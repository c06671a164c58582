"""Evaluation & cluster-quality operators (SURVEY.md §2.8 G2/G3/G5, §5).

Pairwise precision/recall/F1 against labeled pairs — the BASELINE gate
(F1 >= 0.99 on labeled pairs at the reference blocking keys).  The
reference's evaluate_matches (main_ldu_hw.py:197-264) does this with
driver-side row loops; here it is two joins + one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(pairs: DataFrame, c1: str = "doc_id_1", c2: str = "doc_id_2") -> DataFrame:
    """Canonicalize unordered pairs to (doc_id_1 < doc_id_2)."""
    return pairs.select(
        F.least(F.col(c1), F.col(c2)).alias("doc_id_1"),
        F.greatest(F.col(c1), F.col(c2)).alias("doc_id_2"),
        *[c for c in pairs.columns if c not in (c1, c2)],
    ).dropDuplicates(["doc_id_1", "doc_id_2"])


def pairwise_prf(
    predicted: DataFrame,
    labeled: DataFrame,
    candidates: DataFrame | None = None,
) -> dict:
    """Pairwise P/R/F1 of ``predicted(doc_id_1, doc_id_2)`` against
    ``labeled(doc_id_1, doc_id_2, is_match)``.

    With ``candidates`` given, evaluation is restricted to labeled
    pairs reachable by the blocking keys ("at the reference blocking
    keys", BASELINE.md) — blocking recall is reported separately by
    tests.  One aggregate pass; no driver loops.
    """
    pred = _canon(predicted.select("doc_id_1", "doc_id_2")).withColumn(
        "pred", F.lit(True)
    )
    lab = _canon(labeled)
    if candidates is not None:
        cand = _canon(candidates.select("doc_id_1", "doc_id_2"))
        lab = lab.join(cand, ["doc_id_1", "doc_id_2"], "left_semi")

    joined = lab.join(pred, ["doc_id_1", "doc_id_2"], "left").select(
        F.col("is_match"), F.coalesce(F.col("pred"), F.lit(False)).alias("pred")
    )
    row = joined.agg(
        F.sum((F.col("is_match") & F.col("pred")).cast("long")).alias("tp"),
        F.sum((~F.col("is_match") & F.col("pred")).cast("long")).alias("fp"),
        F.sum((F.col("is_match") & ~F.col("pred")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": precision, "recall": recall, "f1": f1,
    }


def validate_clusters(clusters: DataFrame) -> dict:
    """Invariant checks (main_ldu_hw.py:64-94 semantics):
    no doc in two clusters (holds by construction with true CC) +
    cluster-size distribution."""
    dupes = (
        clusters.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("size"))
    stats = sizes.agg(
        F.count("*").alias("clusters"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.avg("size").alias("avg_size"),
        F.expr("percentile(size, 0.5)").alias("median_size"),
    ).collect()[0]
    return {
        "docs_in_multiple_clusters": int(dupes),
        "clusters": int(stats["clusters"]),
        "min_size": int(stats["min_size"]) if stats["min_size"] is not None else 0,
        "max_size": int(stats["max_size"]) if stats["max_size"] is not None else 0,
        "avg_size": float(stats["avg_size"] or 0.0),
        "median_size": float(stats["median_size"] or 0.0),
    }


def clusters_to_pairs(clusters: DataFrame) -> DataFrame:
    """Implied matched pairs of a clustering (for pairwise P/R/F1):
    all unordered within-cluster pairs.  Self-join per cluster — at
    scale this is bounded by max cluster size, which validate_clusters
    monitors ("look for unreasonably large groups", README.md:247)."""
    a = clusters.alias("a")
    b = clusters.alias("b")
    return (
        a.join(b, "cluster_id")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )


def separate_clusters(
    clusters: DataFrame, labeled: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split clusters into label-verified / needs-review
    (main_ldu_hw.py:163-194 semantics, generalized): a cluster is
    verified iff every implied pair inside it is a labeled true match.
    """
    pairs = clusters_to_pairs(clusters)
    lab = _canon(labeled)
    verdicts = (
        pairs.join(lab, ["doc_id_1", "doc_id_2"], "left")
        .join(
            clusters.select(
                F.col("doc_id").alias("doc_id_1"), "cluster_id"
            ),
            "doc_id_1",
        )
        .groupBy("cluster_id")
        .agg(
            F.min(F.coalesce(F.col("is_match"), F.lit(False)).cast("int"))
            .alias("all_true")
        )
    )
    verified_ids = verdicts.where(F.col("all_true") == 1).select("cluster_id")
    verified = clusters.join(verified_ids, "cluster_id", "left_semi")
    not_verified = clusters.join(verified_ids, "cluster_id", "left_anti")
    return verified, not_verified


def cluster_diff(ca: DataFrame, cb: DataFrame) -> DataFrame:
    """Symmetric diff of two clustering runs (compare_matching_methods
    semantics, SURVEY.md §2.8 G6): docs whose cluster assignment
    differs.  Cluster labels are min-member doc_ids in both runs, so
    label equality is meaningful across runs.  Full-outer join +
    null-safe inequality — one shuffle on doc_id."""
    a = ca.select("doc_id", F.col("cluster_id").alias("cluster_id_a"))
    b = cb.select("doc_id", F.col("cluster_id").alias("cluster_id_b"))
    return (
        a.join(b, "doc_id", "full")
        .where(~F.col("cluster_id_a").eqNullSafe(F.col("cluster_id_b")))
        .select("doc_id", "cluster_id_a", "cluster_id_b")
    )


def presentation_view(
    clusters: DataFrame, documents: DataFrame, edges: DataFrame
) -> DataFrame:
    """Reviewer-facing view (groups_to_df, main_ldu_hw.py:97-146):
    one row per member with its cluster, source, and the ids it
    matched against (collect_set over the edge list) — ordered for
    export.  The blank separator rows of the Excel export are a
    presentation artifact left to the final single-node writer."""
    match_ids = (
        edges.select(
            F.col("doc_id_1").alias("doc_id"),
            F.col("doc_id_2").alias("other"),
        )
        .union(
            edges.select(
                F.col("doc_id_2").alias("doc_id"),
                F.col("doc_id_1").alias("other"),
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("other")).alias("matched_ids"))
    )
    return (
        clusters.join(documents, "doc_id", "left")
        .join(match_ids, "doc_id", "left")
        .orderBy("cluster_id", "doc_id")
    )


def threshold_curve(
    scored_pairs: DataFrame,
    labeled: DataFrame,
    thresholds: tuple[float, ...] = (2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5),
    score_col: str = "score",
) -> DataFrame:
    """Pairwise P/R/F1 at every candidate decision threshold in ONE
    pass — the tuning table behind the reference's hand-picked
    score cutoffs (main_ldu_hw.py:330-382 hardcodes them after manual
    histogram inspection; this computes the whole operating curve).

    ``fn`` counts BOTH labeled candidates scored below the threshold
    and labeled TRUE pairs blocking never reached (the blocking-miss
    count is threshold-independent; `blocking_recall` reports it
    alone), so ``recall``/``f1`` are end-to-end, comparable to
    `evaluate_prf`.  Labeled non-matches outside the candidate set
    carry no information at any threshold and are excluded from the
    miss count.  Both sides are canonicalized/deduped on the pair id
    (same contract as `pairwise_prf`), so (b, a) storage order or
    duplicate scored rows cannot double-count.

    Scale shape: one left join of the scored pairs against the labels
    (keyed on the pair id), one |grid|-way explode with map-side
    partial aggregation (the shuffle carries |grid| rows per
    partition, not |pairs| x |grid|), one broadcast 1-row missed
    count.  Output: one row per threshold.
    """
    lab = _canon(labeled)
    pair_keys = ["doc_id_1", "doc_id_2"]
    sp = _canon(scored_pairs.select(*pair_keys, score_col))
    j = (
        sp.join(lab, pair_keys, "left")
        .select(
            F.col(score_col).alias("s"),
            F.coalesce(F.col("is_match"), F.lit(False)).alias("lab"),
        )
    )
    missed = (
        lab.filter(F.col("is_match"))
        .join(sp.select(*pair_keys), pair_keys, "left_anti")
        .agg(F.count("*").cast("long").alias("n_missed"))
    )
    grid = F.array(*[F.lit(float(t)) for t in thresholds])
    agg = (
        j.select(F.explode(grid).alias("threshold"), "s", "lab")
        .groupBy("threshold")
        .agg(
            F.sum(
                ((F.col("s") >= F.col("threshold")) & F.col("lab")).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("s") >= F.col("threshold")) & ~F.col("lab")).cast("long")
            ).alias("fp"),
            F.sum(
                ((F.col("s") < F.col("threshold")) & F.col("lab")).cast("long")
            ).alias("fn_scored"),
        )
    )
    out = agg.crossJoin(F.broadcast(missed))
    tp, fp = F.col("tp"), F.col("fp")
    fn = F.col("fn_scored") + F.col("n_missed")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    return out.select(
        "threshold",
        tp,
        fp,
        fn.alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(
                prec + rec > 0, 2 * prec * rec / (prec + rec)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("f1"),
    )


def cluster_cohesion(
    clusters: DataFrame, scored_edges: DataFrame, score_col: str = "score"
) -> DataFrame:
    """Per-cluster cohesion report — the triage view an ER reviewer
    opens after transitive closure, because CC is recall-maximal: ONE
    spurious edge chains two entities into a single cluster, and the
    symptom is exactly low edge density / a weak minimum edge.  The
    reference's advice is "look for unreasonably large groups"
    (README.md:247); this quantifies it per cluster:

      n_members, n_edges, density = n_edges / C(n_members, 2),
      min/avg edge score

    Output: one row per cluster of size >= 2 (singletons have no
    edges to judge).  Scale shape: one join keyed on doc_id, two
    groupBys keyed on cluster_id — no pair materialization beyond the
    edges that already exist.
    """
    e = scored_edges.join(
        clusters.select(
            F.col("doc_id").alias("doc_id_1"), "cluster_id"
        ),
        "doc_id_1",
    )
    per_edge = e.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_edges"),
        F.round(F.min(score_col), 6).alias("min_score"),
        F.round(F.avg(score_col), 6).alias("avg_score"),
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return (
        sizes.where(F.col("n_members") >= 2)
        .join(per_edge, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
            F.round(
                F.coalesce(F.col("n_edges"), F.lit(0))
                / (F.col("n_members") * (F.col("n_members") - 1) / 2),
                6,
            ).alias("density"),
            "min_score",
            "avg_score",
        )
    )


def cluster_metrics(clusters: DataFrame, gold: DataFrame) -> DataFrame:
    """Cluster-level quality metrics: B-cubed precision/recall/F1 and
    the Adjusted Rand Index, of ``clusters(doc_id, cluster_id)``
    against ``gold(doc_id, gold_id)``.

    The reference evaluates pairwise only (main_ldu_hw.py:197-264);
    B-cubed (Bagga & Baldwin 1998) and ARI (Hubert & Arabie 1985) are
    the standard *cluster-level* complements an ER user reports next —
    pairwise F1 over-weights large clusters, B-cubed scores each doc's
    own cluster purity/completeness, ARI corrects for chance.

    Everything reduces to contingency-cell counts, so the whole
    computation is three groupBys on (cluster, gold) / cluster / gold
    plus scalar aggregates — no pair materialization (pairwise metrics
    need |cluster|² rows; this needs |distinct cells|), which is what
    makes it usable at 10^12 docs where clusters_to_pairs is not.

      B³P  = (1/N) Σ_{c,g} n_cg² / n_c
      B³R  = (1/N) Σ_{c,g} n_cg² / n_g
      ARI  = (Σ_ij C(n_ij,2) − a·b/C(N,2)) / ((a+b)/2 − a·b/C(N,2)),
             a = Σ_c C(n_c,2), b = Σ_g C(n_g,2)

    Returns one row:
    (n_docs, n_clusters, n_gold, b3_precision, b3_recall, b3_f1, ari)
    with the metric columns rounded to 6 decimals (engine-portable).
    """
    asg = clusters.select("doc_id", "cluster_id").join(
        gold.select("doc_id", "gold_id"), "doc_id"
    )
    cells = asg.groupBy("cluster_id", "gold_id").agg(
        F.count("*").cast("double").alias("n_cg")
    )
    by_c = asg.groupBy("cluster_id").agg(
        F.count("*").cast("double").alias("n_c")
    )
    by_g = asg.groupBy("gold_id").agg(
        F.count("*").cast("double").alias("n_g")
    )
    joined = cells.join(by_c, "cluster_id").join(by_g, "gold_id")
    sums = joined.agg(
        F.sum("n_cg").alias("n"),
        F.sum(F.col("n_cg") * F.col("n_cg") / F.col("n_c")).alias("p_sum"),
        F.sum(F.col("n_cg") * F.col("n_cg") / F.col("n_g")).alias("r_sum"),
        F.sum(F.col("n_cg") * (F.col("n_cg") - 1) / 2).alias("cell_pairs"),
    )
    a_pairs = by_c.agg(
        F.sum(F.col("n_c") * (F.col("n_c") - 1) / 2).alias("a"),
        F.count("*").cast("long").alias("n_clusters"),
    )
    b_pairs = by_g.agg(
        F.sum(F.col("n_g") * (F.col("n_g") - 1) / 2).alias("b"),
        F.count("*").cast("long").alias("n_gold"),
    )
    out = sums.crossJoin(a_pairs).crossJoin(b_pairs)
    n = F.col("n")
    total_pairs = n * (n - 1) / 2
    expected = F.col("a") * F.col("b") / total_pairs
    max_idx = (F.col("a") + F.col("b")) / 2
    b3p = F.col("p_sum") / n
    b3r = F.col("r_sum") / n
    return out.select(
        n.cast("long").alias("n_docs"),
        F.col("n_clusters"),
        F.col("n_gold"),
        F.round(b3p, 6).alias("b3_precision"),
        F.round(b3r, 6).alias("b3_recall"),
        F.round(2 * b3p * b3r / (b3p + b3r), 6).alias("b3_f1"),
        F.round(
            F.when(
                max_idx == expected, F.lit(1.0)
            ).otherwise((F.col("cell_pairs") - expected) / (max_idx - expected)),
            6,
        ).alias("ari"),
    )


def clustering_agreement(
    clusters: DataFrame, gold: DataFrame
) -> DataFrame:
    """Information-theoretic clustering agreement: homogeneity,
    completeness, V-measure (Rosenberg & Hirschberg 2007) and NMI —
    the entropy-based complement of :func:`cluster_metrics`'s
    B-cubed/ARI.  Homogeneity and completeness split total error into
    the two failure modes the error taxonomy names: a merged cluster
    (mixed gold entities) costs homogeneity only; a fragmented entity
    (split across clusters) costs completeness only — so the pair
    says WHICH way a threshold is wrong, where accuracy-style scores
    just drop.

      H(G|C) = -Σ_{c,g} (n_cg/N) ln(n_cg/n_c)    h = 1 - H(G|C)/H(G)
      H(C|G) = -Σ_{c,g} (n_cg/N) ln(n_cg/n_g)    c = 1 - H(C|G)/H(C)
      V = 2hc/(h+c);  NMI = 2·I(G;C) / (H(G)+H(C))  (arithmetic mean)

    Conventions (documented, engine-portable): a zero denominator
    entropy means that side is a single block — the conditional score
    is defined as 1.0; V and NMI are 0.0 when h + c (resp. the entropy
    sum) is 0 with disagreement impossible only at N<=1.  Same scale
    shape as cluster_metrics: three groupBys over contingency cells +
    scalar aggregates, no pair materialization — usable at 10^12 docs.

    Returns one row: (n_docs, homogeneity, completeness, v_measure,
    nmi), metric columns rounded to 6 decimals.
    """
    asg = clusters.select("doc_id", "cluster_id").join(
        gold.select("doc_id", "gold_id"), "doc_id"
    )
    cells = asg.groupBy("cluster_id", "gold_id").agg(
        F.count("*").cast("double").alias("n_cg")
    )
    by_c = asg.groupBy("cluster_id").agg(
        F.count("*").cast("double").alias("n_c")
    )
    by_g = asg.groupBy("gold_id").agg(
        F.count("*").cast("double").alias("n_g")
    )
    joined = cells.join(by_c, "cluster_id").join(by_g, "gold_id")
    sums = joined.agg(
        F.sum("n_cg").alias("n"),
        # -Σ n_cg·ln(n_cg/n_c) and -Σ n_cg·ln(n_cg/n_g): divide by N
        # once at the end (N is another aggregate of the same frame)
        F.sum(-F.col("n_cg") * F.log(F.col("n_cg") / F.col("n_c"))).alias(
            "hg_given_c_num"
        ),
        F.sum(-F.col("n_cg") * F.log(F.col("n_cg") / F.col("n_g"))).alias(
            "hc_given_g_num"
        ),
    )
    h_c = by_c.agg(
        F.sum(-F.col("n_c") * F.log(F.col("n_c"))).alias("hc_raw"),
        F.sum("n_c").alias("n_c_tot"),
    )
    h_g = by_g.agg(
        F.sum(-F.col("n_g") * F.log(F.col("n_g"))).alias("hg_raw"),
        F.sum("n_g").alias("n_g_tot"),
    )
    out = sums.crossJoin(h_c).crossJoin(h_g)
    n = F.col("n")
    # H(X) from the raw Σ -n_x ln n_x form: (raw)/N + ln N
    ent_c = F.col("hc_raw") / n + F.log(n)
    ent_g = F.col("hg_raw") / n + F.log(n)
    cond_g_c = F.col("hg_given_c_num") / n  # H(G|C)
    cond_c_g = F.col("hc_given_g_num") / n  # H(C|G)
    homog = F.when(ent_g <= F.lit(0.0), F.lit(1.0)).otherwise(
        1 - cond_g_c / ent_g
    )
    compl = F.when(ent_c <= F.lit(0.0), F.lit(1.0)).otherwise(
        1 - cond_c_g / ent_c
    )
    mi = ent_g - cond_g_c
    nmi = F.when((ent_g + ent_c) <= F.lit(0.0), F.lit(0.0)).otherwise(
        2 * mi / (ent_g + ent_c)
    )
    v = F.when((homog + compl) <= F.lit(0.0), F.lit(0.0)).otherwise(
        2 * homog * compl / (homog + compl)
    )
    return out.select(
        n.cast("long").alias("n_docs"),
        F.round(homog, 6).alias("homogeneity"),
        F.round(compl, 6).alias("completeness"),
        F.round(v, 6).alias("v_measure"),
        F.round(nmi, 6).alias("nmi"),
    )


def golden_records(
    records: DataFrame,
    clusters: DataFrame,
    fields: tuple[str, ...] = ("name", "phone", "email", "address"),
) -> DataFrame:
    """Survivorship: ONE canonical record per cluster — the step an ER
    user runs right after clustering (the reference stops at grouped
    presentation; a downstream system wants a single golden row per
    entity).  Rule, deterministic and engine-portable: per field, the
    MODAL non-empty value across the cluster's members, ties broken by
    value ascending; fields with no non-empty value stay NULL.

    Scale shape: melt = one narrow xF explode; the mode is one groupBy
    on (cluster, field, value) + a window bounded by cluster size —
    every shuffle partitions on its key, no driver materialization,
    no UDF.
    """
    from pyspark.sql.window import Window

    joined = records.join(clusters, "doc_id").select(
        "cluster_id", *[F.col(f).cast("string").alias(f) for f in fields]
    )
    melted = joined.select(
        "cluster_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"), F.col(f).alias("value")
                    )
                    for f in fields
                ]
            )
        ).alias("fv"),
    ).select("cluster_id", F.col("fv.field").alias("field"), F.col("fv.value").alias("value"))
    counts = (
        melted.where(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy("cluster_id", "field", "value")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("cluster_id", "field").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    top = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    golden = top.groupBy("cluster_id").agg(
        *[
            F.max(F.when(F.col("field") == f, F.col("value"))).alias(f)
            for f in fields
        ]
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.join(golden, "cluster_id", "left").select(
        "cluster_id", "cluster_size", *fields
    )


def progressive_recall_curve(
    keys: DataFrame,
    labeled: DataFrame,
    n_buckets: int = 10,
    bs_weight: int = 1_000_000_000,
    pin: bool = True,
) -> DataFrame:
    """Progressive (pay-as-you-go) entity resolution schedule (Whang
    et al. TKDE'13; Papenbrock et al. ICDE'15): order the candidate
    pairs so that scoring the first B% finds as many true matches as
    possible, and report the cumulative-recall curve per budget
    bucket — the table that says what a 10%/20%/... scoring budget
    BUYS at 100 TB, where scoring every candidate is the 6-hour stage.

    Priority is evidence already in hand before any scoring: shared-
    block count DESC (meta-blocking's CBS weight — two independent
    keys agreeing beats one), then smallest-shared-block ASC (a pair
    meeting in a rare block is more specific than one meeting in a
    crowd), ties by pair id.  Encoded as ONE ascending numeric key
    (``min_bs - n_shared * bs_weight``) so the distributed rank
    machinery (``global_ranks`` — sample-quantile buckets + in-bucket
    row_number, never a single-partition window) applies unchanged;
    ``bs_weight`` must exceed any possible block size.

    Input: ``keys(doc_id, block_key)`` (capped), ``labeled(doc_id_1,
    doc_id_2, is_match)``.  Output: one row per budget bucket with
    ``n_pairs, cum_pairs, n_true, cum_true, cum_recall`` — recall is
    END-TO-END (denominator = all labeled positives, so blocking
    misses show as a curve that plateaus below 1.0).

    Scale shape: the per-key pair enumeration is the candidate join
    the pipeline already runs; priority needs ONE pair-keyed groupBy
    (census attached by a broadcast-size join keyed on block_key); the
    schedule rank is the same distributed-sort cost class as writing
    the scored output ordered; the curve itself aggregates to
    ``n_buckets`` rows, and the cumulative window runs over those
    rows, not the pairs.
    """
    from .blocking import block_census, global_ranks
    from .dedup import _pin
    from pyspark.sql import Window

    # keys fans out three ways (census + both self-join sides) and the
    # priority table five (global_ranks' count/sample/census/rank
    # passes plus the bucket count below) — without pins each
    # reference re-executes the normalize->block-key subplan (measured
    # 48s -> ~8s at sf0.01).  At production scale the pinned priority
    # table IS the persisted schedule index (same contract as _pin).
    keys = _pin(keys.select("doc_id", "block_key"), pin)
    census = block_census(keys)
    a, b = keys.alias("a"), keys.alias("b")
    per_key = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .join(census, "block_key")
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            "block_size",
        )
    )
    pairs = per_key.groupBy("doc_id_1", "doc_id_2").agg(
        F.count("*").alias("n_shared"),
        F.min("block_size").alias("min_bs"),
    )
    prio = pairs.select(
        F.concat_ws("|", "doc_id_1", "doc_id_2").alias("pair_id"),
        "doc_id_1",
        "doc_id_2",
        (
            F.col("min_bs").cast("long")
            - F.col("n_shared").cast("long") * F.lit(int(bs_weight))
        ).alias("_prio"),
    )
    prio = _pin(prio, pin)
    ranked = global_ranks(
        prio,
        F.col("_prio"),
        id_col="pair_id",
        carry_cols=("doc_id_1", "doc_id_2"),
        materialize=pin,
    )
    n_total = ranked.count()
    n_pos = labeled.where(F.col("is_match")).count()
    bucketed = ranked.select(
        "doc_id_1",
        "doc_id_2",
        F.ceil(
            F.col("_rank") * F.lit(int(n_buckets)) / F.lit(max(n_total, 1))
        )
        .cast("int")
        .alias("budget_bucket"),
    )
    lab = labeled.where(F.col("is_match")).select(
        F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
        F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
        F.lit(1).alias("is_true"),
    ).dropDuplicates(["doc_id_1", "doc_id_2"])
    per_bucket = (
        bucketed.join(lab, ["doc_id_1", "doc_id_2"], "left")
        .groupBy("budget_bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
            .cast("long")
            .alias("n_true"),
        )
    )
    w = Window.orderBy("budget_bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_bucket.select(
        "budget_bucket",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("cum_pairs"),
        "n_true",
        F.sum("n_true").over(w).cast("long").alias("cum_true"),
        F.round(
            F.sum("n_true").over(w) / F.lit(float(max(n_pos, 1))), 6
        ).alias("cum_recall"),
    )


def survivorship_conflicts(
    records: DataFrame,
    clusters: DataFrame,
    fields: tuple[str, ...] = ("name", "phone", "email", "address"),
) -> DataFrame:
    """The review queue :func:`golden_records` leaves behind: per
    (cluster, field) with 2+ DISTINCT non-empty values, report what
    the survivorship rule chose, what it overrode, and by how much —
    the rows a data steward audits before trusting a golden record
    (a silent modal pick over a 3-3 tie is exactly what they need to
    see).  Output: ``(cluster_id, field, n_values, chosen, chosen_n,
    runner_up, runner_up_n)``, one row per conflicted field.

    Scale shape: identical to golden_records — melt (narrow Generate),
    one groupBy on (cluster, field, value), one cluster-bounded
    window; the conflict filter only SHRINKS the output.
    """
    from pyspark.sql.window import Window

    joined = records.join(clusters, "doc_id").select(
        "cluster_id", *[F.col(f).cast("string").alias(f) for f in fields]
    )
    melted = joined.select(
        "cluster_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"), F.col(f).alias("value")
                    )
                    for f in fields
                ]
            )
        ).alias("fv"),
    ).select(
        "cluster_id",
        F.col("fv.field").alias("field"),
        F.col("fv.value").alias("value"),
    )
    counts = (
        melted.where(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy("cluster_id", "field", "value")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("cluster_id", "field").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    ranked = counts.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id", "field")
        .agg(
            F.count("*").alias("n_values"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("chosen"),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("chosen_n"),
            F.max(F.when(F.col("rn") == 2, F.col("value"))).alias(
                "runner_up"
            ),
            F.coalesce(
                F.max(F.when(F.col("rn") == 2, F.col("n"))), F.lit(0)
            ).alias("runner_up_n"),
        )
        .where(F.col("n_values") >= 2)
    )


def cluster_error_taxonomy(
    clusters: DataFrame, gold: DataFrame
) -> DataFrame:
    """The actionable error view the scalar metrics summarize away:
    per GOLD entity, is it resolved ``pure`` (one cluster, nothing
    else in it), ``fragmented`` (split across clusters — a recall
    problem: blocking miss or under-firing rules), ``merged`` (its
    cluster also holds other entities — a precision problem:
    over-firing rules or transitive chaining), or
    ``fragmented+merged``?  B-cubed/ARI (:func:`cluster_metrics`) say
    HOW GOOD; this says WHAT KIND of wrong, which decides whether to
    fix blocking or thresholds.

    Input: ``clusters(doc_id, cluster_id)``, ``gold(doc_id, entity)``.
    Output: one row per entity — ``(entity, n_docs, n_clusters,
    max_cluster_entities, status)``.

    Scale shape: contingency CELLS only (the cluster_metrics recipe) —
    one doc_id join, a (cluster, entity) groupBy, a per-cluster
    entity-count groupBy, one keyed join back; never materializes
    pairs, works at 10^12 docs.
    """
    cells = (
        clusters.join(gold, "doc_id")
        .groupBy("cluster_id", "entity")
        .agg(F.count("*").alias("n"))
    )
    from .dedup import _pin

    cells = _pin(cells, True)
    per_cluster = cells.groupBy("cluster_id").agg(
        F.count("*").alias("k_entities")
    )
    enriched = cells.join(per_cluster, "cluster_id")
    per_entity = enriched.groupBy("entity").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_clusters"),
        F.max("k_entities").alias("max_cluster_entities"),
    )
    frag = F.col("n_clusters") > 1
    merg = F.col("max_cluster_entities") > 1
    status = (
        F.when(frag & merg, "fragmented+merged")
        .when(frag, "fragmented")
        .when(merg, "merged")
        .otherwise("pure")
    )
    return per_entity.select(
        "entity",
        "n_docs",
        "n_clusters",
        "max_cluster_entities",
        status.alias("status"),
    )


def cluster_growth_curve(
    scored: DataFrame,
    vertices: DataFrame,
    thresholds: tuple[float, ...] = (4.9, 5.2, 5.5, 5.8, 6.1),
    score_col: str = "score",
    method: str = "auto",
) -> DataFrame:
    """Cluster STRUCTURE per score cutoff — the giant-component alarm
    (:func:`threshold_curve` prices cutoffs in pairwise P/R/F1; this
    shows what transitivity does with them): per threshold, the number
    of non-singleton clusters, how many docs they absorb, and the
    largest cluster — the curve where a too-low cutoff shows up as one
    exploding component long before pairwise precision collapses
    (chain merging compounds through closure; Christen 2012 §6.8's
    reason to monitor group sizes, the reference's
    "look for unreasonably large groups" advice made quantitative).

    Output: one row per threshold — ``(threshold, n_edges, n_clusters,
    n_linked_docs, largest_cluster)``.

    Scale shape: the scored match set is pruned to the lowest cutoff
    and pinned ONCE (callers pass the whole scoring chain as a lazy
    plan — without the pin every threshold re-executed blocking +
    scoring end-to-end).  When the pruned edge list clears the same
    row+byte gate as :func:`~..operators.cc.connected_components`'s
    driver finish, all thresholds run as ONE incremental union-find
    sweep (descending cutoffs only ever ADD edges — Edges(t_hi) ⊆
    Edges(t_lo)), zero per-threshold Spark jobs; above the gate it
    falls back to one distributed CC per threshold over the pinned
    frame.  Design-time diagnostic — run on a sample or at small SF,
    like blocking_plan.
    """
    from .cc import (
        DRIVER_UF_MAX_BYTES,
        DRIVER_UF_MAX_EDGES,
        _PY_STR_EXPANSION,
        connected_components,
    )

    ts = [float(t) for t in thresholds]
    min_t = min(ts)
    # cast matches Spark's own literal-comparison promotion, so the
    # Python-side >= below decides boundary scores identically
    pruned = (
        scored.where(F.col(score_col) >= min_t)
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col(score_col).cast("double").alias("__score"),
        )
        .localCheckpoint(eager=True)
    )
    n_pruned = pruned.count()

    fits = method in ("auto", "driver-uf") and n_pruned <= DRIVER_UF_MAX_EDGES
    if fits and n_pruned > 0:
        raw_bytes = pruned.agg(
            F.coalesce(
                F.sum(
                    F.length(F.col("doc_id_1"))
                    + F.length(F.col("doc_id_2"))
                ),
                F.lit(0),
            )
        ).collect()[0][0]
        fits = raw_bytes * _PY_STR_EXPANSION <= DRIVER_UF_MAX_BYTES

    stats: dict[float, tuple[int, int, int, int]] = {}
    if fits:
        pdf = pruned.toPandas()
        scores = pdf["__score"].to_numpy()
        a_col = pdf["doc_id_1"].tolist()
        b_col = pdf["doc_id_2"].tolist()
        # descending cutoffs: each step only adds the edges in
        # [t, prev_t) to the same union-find
        order = sorted(range(len(a_col)), key=lambda i: -scores[i])
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        pos = 0
        for t in sorted(set(ts), reverse=True):
            while pos < len(order) and scores[order[pos]] >= t:
                i = order[pos]
                a, b = a_col[i], b_col[i]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    root = min(ra, rb)
                    parent[ra] = parent[rb] = root
                pos += 1
            from collections import Counter

            sizes = Counter(find(x) for x in parent)
            multi = [s for s in sizes.values() if s >= 2]
            stats[t] = (
                int((scores >= t).sum()),
                len(multi),
                sum(multi),
                max(multi, default=0),
            )
    else:
        for t in sorted(set(ts)):
            edges = pruned.where(F.col("__score") >= t).select(
                "doc_id_1", "doc_id_2"
            )
            clusters = connected_components(
                edges, vertices=vertices, method=method
            )
            sizes = clusters.groupBy("cluster_id").agg(
                F.count("*").alias("sz")
            )
            agg = sizes.where(F.col("sz") >= 2).agg(
                F.coalesce(F.count("*"), F.lit(0)).alias("n_clusters"),
                F.coalesce(F.sum("sz"), F.lit(0)).alias("n_linked_docs"),
                F.coalesce(F.max("sz"), F.lit(0)).alias("largest_cluster"),
            )
            n_edges = edges.count()
            r = agg.collect()[0]
            stats[t] = (
                int(n_edges),
                int(r["n_clusters"]),
                int(r["n_linked_docs"]),
                int(r["largest_cluster"]),
            )

    rows = [(t, *stats[t]) for t in ts]
    return scored.sparkSession.createDataFrame(
        rows,
        "threshold double, n_edges bigint, n_clusters bigint, "
        "n_linked_docs bigint, largest_cluster bigint",
    )
