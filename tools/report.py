#!/usr/bin/env python
"""Reviewer report: the engine-side stand-in for the reference's
matplotlib artifacts (score distribution plot, cluster-size pie,
per-rule counts — main_ldu_hw.py:260,267-327), which exist to let a
human pick score thresholds and sanity-check rule firing.

No plotting libs ship in this sandbox, so the report is CSV tables
plus an ASCII rendering of the score histogram in REPORT.md, plus the
reference's two PNG artifacts re-created by the engine's pure-stdlib
rasterizer (functions/plotting.py): ``combined_plot.png`` (stacked
per-field score histograms, main_ldu_hw.py:276-326) and
``evaluation.png`` (match-evaluation pie, main_ldu_hw.py:239-261).
The data comes from the SAME driver queries the correctness harness
checks (`score_histogram`, `cluster_size_stats`, `mask_stats`,
`evaluate_prf`), so the report never drifts from the verified
pipeline.

Usage: python tools/report.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _bar(frac: float, width: int = 40) -> str:
    n = int(round(frac * width))
    return "#" * n if n > 0 else ("." if frac > 0 else "")


def main(sf_dir: str, out_dir: str) -> None:
    import __spark_entry__ as E
    from record_linkage_ldu_spark.session import build_session
    from record_linkage_ldu_spark.sources.io import export_presentation_csv

    spark = build_session(app_name="rl-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    os.makedirs(out_dir, exist_ok=True)

    hist = qs["score_histogram"](spark, sf_dir).orderBy(
        "field", "bin"
    ).collect()
    sizes = qs["cluster_size_stats"](spark, sf_dir).collect()[0].asDict()
    masks = qs["mask_stats"](spark, sf_dir).collect()[0].asDict()
    cross_masks = qs["cross_mask_stats"](spark, sf_dir).collect()[0].asDict()

    # dedup dropped-bucket census: members of a dropped mega-bucket
    # lose their pairs and come out keep=1 — the MOST duplicated
    # content — so the report must say which buckets (if any) the
    # tiering dropped, not leave it implicit
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.operators import dedup

    docs_tbl = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    _, mh_census = dedup.minhash_near_duplicates(
        docs_tbl, threshold=0.3, with_census=True
    )
    mh_drops = (
        mh_census.orderBy(F.col("block_size").desc()).limit(20).collect()
    )

    export_presentation_csv(
        qs["score_histogram"](spark, sf_dir).orderBy("field", "bin"),
        os.path.join(out_dir, "score_histogram"),
    )
    export_presentation_csv(
        qs["cluster_size_stats"](spark, sf_dir),
        os.path.join(out_dir, "cluster_size_stats"),
    )
    export_presentation_csv(
        qs["mask_stats"](spark, sf_dir),
        os.path.join(out_dir, "mask_stats"),
    )

    fields = sorted({r["field"] for r in hist})
    by_field = {
        f: [r for r in hist if r["field"] == f] for f in fields
    }
    lines = [
        "# Linkage report",
        "",
        f"input: `{sf_dir}`",
        "",
        "## Per-field similarity distributions (threshold-picking view)",
        "",
        "The reference reads these off matplotlib histograms "
        "(main_ldu_hw.py:260); same data, terminal-rendered. "
        "Buckets are 0.05-wide similarity bins.",
        "",
    ]
    for f in fields:
        rows = by_field[f]
        total = sum(r["n_pairs"] for r in rows) or 1
        peak = max(r["n_pairs"] for r in rows) or 1
        lines += [
            f"### {f}",
            "",
            "| sim bucket | pairs | share | |",
            "|---|---|---|---|",
        ]
        for r in rows:
            lo = r["bin"] * 0.05
            frac = r["n_pairs"] / total
            lines.append(
                f"| {lo:.2f}-{lo + 0.05:.2f} | {r['n_pairs']} | "
                f"{frac:.1%} | `{_bar(r['n_pairs'] / peak)}` |"
            )
        lines.append("")
    lines += [
        "",
        "## Cluster sizes",
        "",
        "| stat | value |",
        "|---|---|",
    ]
    for k, v in sizes.items():
        lines.append(f"| {k} | {v} |")
    lines += [
        "",
        "## Rule-mask firing counts (D3 per-mask stats)",
        "",
        "| mask | pairs |",
        "|---|---|",
    ]
    for k, v in masks.items():
        lines.append(f"| {k} | {v} |")
    lines += [
        "",
        "## Cross-mode rule-mask firing counts "
        "(D3 cross variant, main_ldu_hw.py:422-429)",
        "",
        "| mask | pairs |",
        "|---|---|",
    ]
    for k, v in cross_masks.items():
        lines.append(f"| {k} | {v} |")
    lines += [
        "",
        "## Dedup dropped-bucket census (MinHash band tiers)",
        "",
        "Buckets past the drop ceiling lose their pairs — their members "
        "(the most-duplicated content) come out keep=1.  Empty table = "
        "tiering dropped nothing at this scale.",
        "",
        "| band bucket | docs |",
        "|---|---|",
    ]
    if mh_drops:
        for r in mh_drops:
            lines.append(f"| `{r['block_key']}` | {r['block_size']} |")
    else:
        lines.append("| (none dropped) | — |")
    lines.append("")

    # the operating curve: P/R/F1 per combined-score cutoff — the
    # table a reviewer actually picks the threshold FROM (the
    # histograms above show shape; this shows consequences)
    curve = qs["threshold_curve"](spark, sf_dir).orderBy("threshold").collect()
    lines += [
        "## Threshold operating curve (pairwise, end-to-end)",
        "",
        "`fn` includes labeled pairs blocking never reached, so recall "
        "here is comparable to `evaluate_prf`, not just to the scored "
        "candidate set.",
        "",
        "| score cutoff | tp | fp | fn | precision | recall | f1 |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in curve:
        lines.append(
            f"| {r['threshold']:.1f} | {r['tp']} | {r['fp']} | {r['fn']} "
            f"| {r['precision']:.4f} | {r['recall']:.4f} | {r['f1']:.4f} |"
        )
    lines.append("")

    # cluster triage: the lowest-density (highest chain-merge risk)
    # clusters, the rows a clerical reviewer opens first
    worst = (
        qs["cluster_cohesion"](spark, sf_dir)
        .orderBy(F.col("density").asc(), F.col("n_members").desc())
        .limit(10)
        .collect()
    )
    lines += [
        "## Cluster cohesion triage (10 lowest-density clusters)",
        "",
        "| cluster | members | edges | density | weakest edge | mean edge |",
        "|---|---|---|---|---|---|",
    ]
    for r in worst:
        lines.append(
            f"| `{r['cluster_id']}` | {r['n_members']} | {r['n_edges']} "
            f"| {r['density']:.3f} | {r['min_score']} | {r['avg_score']} |"
        )
    lines.append("")

    # cluster-merge review queue: the group-linkage view — cluster
    # pairs with strong member-level evidence the rules left apart
    # (the complement of the cohesion triage: that flags over-merging,
    # this flags under-merging)
    merge_q = (
        qs["group_linkage_scores"](spark, sf_dir)
        .orderBy(F.col("group_sim").desc())
        .limit(10)
        .collect()
    )
    lines += [
        "## Cluster-merge review queue (10 strongest unmerged group pairs)",
        "",
        "Group linkage (On et al.) over the pipeline's own clusters: "
        "members aligned with their best scored counterpart, diluted "
        "by total member count.  High `group_sim` here = candidate "
        "evidence the match rules did not convert — the clerical "
        "reviewer's merge queue.",
        "",
        "| cluster 1 | cluster 2 | members | scored pairs | group_sim |",
        "|---|---|---|---|---|",
    ]
    for r in merge_q:
        lines.append(
            f"| `{r['group_id_1']}` | `{r['group_id_2']}` "
            f"| {r['n_members_1']}+{r['n_members_2']} "
            f"| {r['n_scored_pairs']} | {r['group_sim']:.4f} |"
        )
    lines.append("")

    # cluster STRUCTURE per cutoff: the giant-component alarm — the
    # threshold curve above prices cutoffs pairwise; this shows what
    # transitive closure does with them (a too-low cutoff appears as
    # one exploding component long before pairwise precision collapses)
    growth = (
        qs["cluster_growth_curve"](spark, sf_dir)
        .orderBy("threshold")
        .collect()
    )
    lines += [
        "## Cluster growth per score cutoff (giant-component alarm)",
        "",
        "| cutoff | match edges | multi-doc clusters | docs absorbed "
        "| largest cluster |",
        "|---|---|---|---|---|",
    ]
    for r in growth:
        lines.append(
            f"| {r['threshold']:.1f} | {r['n_edges']} | {r['n_clusters']} "
            f"| {r['n_linked_docs']} | {r['largest_cluster']} |"
        )
    lines.append("")

    # entropy-based agreement vs the gold partition: homogeneity and
    # completeness name WHICH way the current cutoff errs (merged vs
    # fragmented) — the scalar companion to the taxonomy and the curve
    agree = qs["clustering_agreement"](spark, sf_dir).collect()[0]
    lines += [
        "## Clustering agreement vs gold (entropy split)",
        "",
        "| docs | homogeneity | completeness | V-measure | NMI |",
        "|---|---|---|---|---|",
        f"| {agree['n_docs']} | {agree['homogeneity']:.4f} "
        f"| {agree['completeness']:.4f} | {agree['v_measure']:.4f} "
        f"| {agree['nmi']:.4f} |",
        "",
        "Merged clusters cost homogeneity only; fragmented entities "
        "cost completeness only.",
        "",
    ]

    # corpus cleaning report: the reject-reason histogram IS the
    # observable output of corpus_filter_flags (operators/corpus.py) —
    # a cleaning pass whose drops aren't reported is a silent filter
    flags = qs["corpus_filter"](spark, sf_dir)
    reasons = (
        flags.groupBy("reject_reason").count().orderBy("reject_reason").collect()
    )
    total_docs = sum(r["count"] for r in reasons) or 1
    decon = qs["decontaminate"](spark, sf_dir)
    n_contaminated = decon.where(F.col("contaminated") == 1).count()
    lines += [
        "## Corpus cleaning (reject-reason histogram)",
        "",
        "| reason | docs | share |",
        "|---|---|---|",
    ]
    for r in reasons:
        name = r["reject_reason"] or "(kept)"
        lines.append(
            f"| {name} | {r['count']} | {r['count'] / total_docs:.1%} |"
        )
    lines += [
        "",
        "## Benchmark decontamination",
        "",
        f"corpus docs sharing >= 2 winnowing fingerprints with the "
        f"held-out benchmark split: **{n_contaminated}**",
        "",
    ]

    # progressive-ER budget curve: what a 10%/20%/... scoring budget
    # buys — at 100 TB the pair-scoring stage is the spend, and this
    # is the table that justifies stopping early (or not)
    prog = (
        qs["progressive_recall_curve"](spark, sf_dir)
        .orderBy("budget_bucket")
        .collect()
    )
    lines += [
        "## Progressive-ER budget curve (pay-as-you-go scoring)",
        "",
        "Candidate pairs ranked by pre-scoring evidence (shared-block "
        "count desc, rarest shared block asc); each row = one budget "
        "decile.  Recall is end-to-end — a plateau below 1.0 is "
        "blocking loss, not ranking loss.",
        "",
        "| budget | pairs scored (cum) | true found (cum) | recall |",
        "|---|---|---|---|",
    ]
    for r in prog:
        lines.append(
            f"| {r['budget_bucket'] * 10}% | {r['cum_pairs']} "
            f"| {r['cum_true']} | {r['cum_recall']:.4f} |"
        )
    lines.append("")

    # PNG artifacts (reference plot-sink parity, S6): same frames as
    # the tables above, rendered by the stdlib rasterizer
    from record_linkage_ldu_spark.functions.plotting import (
        histogram_grid_png,
        pie_png,
    )

    panels = [
        (f, [(r["bin"] * 0.05, r["n_pairs"]) for r in by_field[f]])
        for f in fields
    ]
    histogram_grid_png(panels, os.path.join(out_dir, "combined_plot.png"))
    prf = qs["evaluate_prf"](spark, sf_dir).collect()[0].asDict()
    pie_png(
        [
            ("true", float(prf["tp"])),
            ("false", float(prf["fp"])),
            ("missed", float(prf["fn"])),
        ],
        "matches evaluation",
        os.path.join(out_dir, "evaluation.png"),
    )

    # clerical-loop views (r4): the boundary review queue, the chosen
    # blocking plan, and the per-entity error taxonomy — the three
    # tables that turn the metrics above into actions
    rq = (
        qs["review_queue"](spark, sf_dir)
        .orderBy("margin", "doc_id_1", "doc_id_2")
        .limit(10)
        .collect()
    )
    lines += [
        "## Review queue (10 pairs nearest the decision threshold)",
        "",
        "| pair | score | margin | decided | fields fired |",
        "|---|---|---|---|---|",
    ]
    for r in rq:
        lines.append(
            f"| `{r['doc_id_1']}`/`{r['doc_id_2']}` | {r['score']:.3f} "
            f"| {r['margin']:.3f} | {r['decided']} | {r['n_fired']} |"
        )
    lines.append("")

    plan_df = qs["blocking_plan"](spark, sf_dir)
    n_subsets = plan_df.count()
    plan_rows = (
        plan_df.orderBy(
            F.col("meets_target").desc(),
            F.col("n_pairs").asc(),
            F.col("subset").asc(),
        )
        .limit(12)
        .collect()
    )
    lines += [
        "## Blocking plan (exact cost/recall per key-family subset)",
        "",
        f"{n_subsets} subsets evaluated over the full key-family "
        "roster; 12 cheapest adequate shown, chosen plan marked.",
        "",
        "| families | pairs | true reached | recall | meets 0.98 | chosen |",
        "|---|---|---|---|---|---|",
    ]
    for r in plan_rows:
        mark = "**chosen**" if r["chosen"] else ""
        lines.append(
            f"| {r['families']} | {r['n_pairs']} | {r['n_true']} "
            f"| {r['n_true']} / {r['total_true']} | {r['meets_target']} "
            f"| {mark} |"
        )
    lines.append("")

    tax = (
        qs["cluster_error_taxonomy"](spark, sf_dir)
        .groupBy("status")
        .count()
        .orderBy("status")
        .collect()
    )
    lines += [
        "## Cluster error taxonomy (per gold entity)",
        "",
        "fragmented = fix blocking recall / under-firing rules; "
        "merged = fix precision / chaining.",
        "",
        "| status | entities |",
        "|---|---|",
    ]
    for r in tax:
        lines.append(f"| {r['status']} | {r['count']} |")
    lines.append("")

    # functional dependencies over the normalized records: which
    # column implications hold, i.e. which blocking surrogates are
    # safe and which equality rules need a guard field
    fds = qs["fd_profile"](spark, sf_dir).orderBy("dep").collect()
    lines += [
        "## Functional dependencies (g3 strength)",
        "",
        "strength 1.0 = lhs determines rhs exactly (safe blocking "
        "surrogate); low strength on an equality-rule field means the "
        "rule needs a guard.",
        "",
        "| dependency | rows | groups | violating | g3 | holds |",
        "|---|---|---|---|---|---|",
    ]
    for r in fds:
        lines.append(
            f"| {r['dep']} | {r['n_rows']} | {r['n_groups']} | "
            f"{r['n_violating_groups']} | {r['g3_strength']:.4f} | "
            f"{'yes' if r['holds'] else 'no'} |"
        )
    lines.append("")

    # corpus perplexity distribution (unigram LM): both tails are
    # review targets — low = boilerplate floods, high = OCR shred /
    # wrong-language islands
    ppl = qs["unigram_lm_scores"](spark, sf_dir)
    pq = ppl.agg(
        *[
            F.expr(f"percentile(perplexity, {p})").alias(f"p{int(p*100)}")
            for p in (0.01, 0.25, 0.5, 0.75, 0.99)
        ]
    ).collect()[0]
    lines += [
        "## Corpus perplexity (corpus-trained unigram LM)",
        "",
        "| p1 | p25 | median | p75 | p99 |",
        "|---|---|---|---|---|",
        "| "
        + " | ".join(f"{pq[c]:.1f}" for c in ("p1", "p25", "p50", "p75", "p99"))
        + " |",
        "",
        "review the tails: low = template/boilerplate flood, "
        "high = shred or wrong-language content.",
        "",
    ]

    # corpus-health pair (r4c): per-doc novelty distribution + the
    # named flood report — the two views a cleaning pass is tuned
    # against (both from hash-green queries() entries)
    nov = {
        r["b"]: r["n"]
        for r in qs["shingle_novelty"](spark, sf_dir)
        .where(F.col("novelty").isNotNull())
        .groupBy(F.round("novelty", 1).alias("b"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total_nov = sum(nov.values()) or 1
    lines += [
        "## Document novelty (share of corpus-unique shingles per doc)",
        "",
        "| novelty bucket | docs | |",
        "|---|---|---|",
    ]
    for b in sorted(nov):
        frac = nov[b] / total_nov
        lines.append(f"| {b:.1f} | {nov[b]} | `{_bar(frac)}` |")
    lines += [
        "",
        "a fat low-novelty head = template floods / syndication; the "
        "flood table below names the content.",
        "",
        "## Template floods (top duplicated shingles per language)",
        "",
        "| lang | shingle | df |",
        "|---|---|---|",
    ]
    floods = (
        qs["template_floods"](spark, sf_dir)
        .where(F.col("rank") <= 3)
        .orderBy("stratum", "rank")
        .collect()
    )
    for r in floods:
        shingle = str(r["shingle"]).replace("|", "\\|")
        lines.append(f"| {r['stratum']} | {shingle} | {r['df']} |")
    lines.append("")

    # the reference's FINAL artifact: the 3-sheet review workbook
    # ('all' / 'verified' / 'not verified', main_ldu_hw.py:468-471),
    # emitted by the stdlib xlsx sink over the same hash-green
    # presentation queries
    from record_linkage_ldu_spark.sources.xlsx import (
        export_presentation_xlsx,
    )

    pres = qs["cluster_presentation"](spark, sf_dir)
    ver_ids = (
        qs["verified_clusters"](spark, sf_dir).select("cluster_id").distinct()
    )
    export_presentation_xlsx(
        {
            "all": pres,
            "verified": pres.join(ver_ids, "cluster_id", "left_semi"),
            "not verified": pres.join(ver_ids, "cluster_id", "left_anti"),
        },
        os.path.join(out_dir, "matches.xlsx"),
    )

    with open(os.path.join(out_dir, "REPORT.md"), "w") as f:
        f.write("\n".join(lines))
    print(
        f"wrote {out_dir}/REPORT.md "
        "(+3 CSV tables, 2 PNG plots, matches.xlsx)"
    )
    spark.stop()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "report_out")
    main(sf, out)
