#!/usr/bin/env python
"""spark-submit entry point for the end-to-end linkage pipeline.

Cluster usage (north rule: spark-submit --py-files packaging):

    python tools/package.py                       # -> dist/record_linkage_ldu_spark.zip
    spark-submit \
        --py-files dist/record_linkage_ldu_spark.zip \
        tools/run_linkage.py \
        --input  /data/documents          \
        --output /data/linkage_out        \
        --checkpoint-dir /data/linkage_ckpt

``--input`` is a ``documents(doc_id, spans)`` table (parquet path, or
``iceberg:<table>`` when an Iceberg catalog is configured on the
cluster).  The job normalizes, blocks, scores, applies the match
rules, and clusters; every stage is checkpointed through StageStore
(per-partition lineage metrics + manifest), so re-submitting after a
mid-stage failure resumes instead of recomputing.  Outputs:
``<output>/clusters`` and ``<output>/matches`` parquet.

No ``--master`` is set here: spark-submit supplies cluster master,
executor counts, and memory — the engine is config-level only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python tools/run_linkage.py` runs put tools/ (the script
# dir) on sys.path, not the repo root; under spark-submit --py-files
# the zip provides the package instead and this is a no-op.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def linkage_config(args):
    """The pipeline's default configuration with this job's options."""
    from record_linkage_ldu_spark.operators.blocking import BlockingConfig
    from record_linkage_ldu_spark.plans.linkage import LinkageConfig

    return LinkageConfig(
        blocking=BlockingConfig(max_block_size=args.max_block_size),
        cc_method=args.cc_method,
        with_jw=not args.no_jw,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents table (parquet path or iceberg:<table>)")
    ap.add_argument(
        "--input-right",
        default=None,
        help="second documents table — switches to cross-dataset mode "
        "(CrossLinkagePipeline: --input = HW-like left source, "
        "--input-right = LDU-like right source)",
    )
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--checkpoint-dir", default=None, help="StageStore dir (enables resume); default <output>/_stages")
    ap.add_argument(
        "--cc-method",
        default="auto",
        choices=["auto", "driver-uf", "alternating-star", "label-prop"],
    )
    ap.add_argument("--max-block-size", type=int, default=1000)
    ap.add_argument("--no-jw", action="store_true", help="skip the auxiliary Jaro-Winkler column")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master for direct runs (e.g. local[8]); leave unset "
        "under spark-submit so the cluster manager decides",
    )
    args = ap.parse_args(argv)

    from record_linkage_ldu_spark.operators.evaluate import validate_clusters
    from record_linkage_ldu_spark.plans.linkage import (
        CrossLinkagePipeline,
        LinkagePipeline,
    )
    from record_linkage_ldu_spark.session import build_session
    from record_linkage_ldu_spark.sources.io import StageStore

    spark = build_session(
        app_name="record-linkage-ldu-spark",
        master=args.master,  # None => spark-submit / cluster manager decides
        shuffle_partitions=args.shuffle_partitions,
    )

    def _read(path: str):
        if path.startswith("iceberg:"):
            return spark.read.format("iceberg").load(path[len("iceberg:"):])
        return spark.read.parquet(path)

    documents = _read(args.input)

    store = StageStore(spark, args.checkpoint_dir or f"{args.output}/_stages")
    cfg = linkage_config(args)
    if args.input_right:
        res = CrossLinkagePipeline(spark, cfg, store=store).run(
            documents, _read(args.input_right)
        )
    else:
        res = LinkagePipeline(spark, cfg, store=store).run(documents)

    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.matches.write.mode("overwrite").parquet(f"{args.output}/matches")

    # downstream-facing artifacts: one golden row per entity, and the
    # reference's review workbook (single 'all' sheet in production —
    # the verified/not-verified sheets need labels; tools/report.py
    # writes the 3-sheet form on labeled fixtures).  The workbook is
    # driver-sized by contract; skip it for over-sized cluster tables
    # rather than OOM the driver.
    from record_linkage_ldu_spark.operators.evaluate import (
        golden_records,
        presentation_view,
    )
    from record_linkage_ldu_spark.plans.linkage import records_view
    from record_linkage_ldu_spark.sources.xlsx import (
        export_presentation_xlsx,
    )

    records = records_view(documents, cfg)
    golden = golden_records(records, res.clusters)
    golden.write.mode("overwrite").parquet(f"{args.output}/golden")
    try:
        export_presentation_xlsx(
            {
                "all": presentation_view(
                    res.clusters,
                    records.select("doc_id", "name", "phone", "email"),
                    res.matches.select("doc_id_1", "doc_id_2"),
                )
            },
            f"{args.output}/matches.xlsx",
        )
    except ValueError as e:
        print(f"workbook skipped: {e}")

    report = {
        "stages": res.stage_info,
        "clusters": validate_clusters(res.clusters),
    }
    print(json.dumps(report, indent=2, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
