#!/usr/bin/env python
"""spark-submit entry point for INCREMENTAL linkage — the growing-
corpus deployment mode (streaming/incremental.py), the streaming
sibling of run_linkage.py.

Two modes over the same persistent store:

  stream mode (default) — watch a documents directory, run one
  incremental micro-batch per new file (Structured Streaming
  foreachBatch, availableNow so the job drains what exists and
  exits; re-submit on a schedule or drop the trigger for continuous):

    spark-submit --py-files dist/record_linkage_ldu_spark.zip \
        tools/run_incremental.py \
        --input /data/incoming_documents \
        --store /data/linkage_store \
        --checkpoint-dir /data/incremental_ckpt

  one-batch mode — ingest a single new-documents table (an Airflow/
  cron task per arrival, no streaming checkpoint needed):

    spark-submit ... tools/run_incremental.py \
        --input /data/batch_2026_08_19 --store /data/linkage_store \
        --one-batch

The store (<store>/records|keys|census|edges|clusters) is append-only
except census + clusters, every batch commits atomically behind a
manifest (a crash mid-batch rolls back on the next run via
recover_store), per-batch work is proportional to the NEW documents
and the blocks they touch — old-old pairs are never generated — and
cluster labels are min-doc_id, so labels of untouched components are
stable across batches.  ``<store>/clusters`` is always the current
full clustering; downstream consumers read it like the batch
pipeline's output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def linkage_config(args):
    """The pipeline's default configuration with this job's options."""
    from record_linkage_ldu_spark.operators.blocking import BlockingConfig
    from record_linkage_ldu_spark.plans.linkage import LinkageConfig

    return LinkageConfig(
        blocking=BlockingConfig(max_block_size=args.max_block_size)
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input",
        required=True,
        help="documents source: a directory to stream (default mode) "
        "or one new-documents table (--one-batch)",
    )
    ap.add_argument("--store", required=True, help="persistent incremental store dir")
    ap.add_argument(
        "--checkpoint-dir",
        default=None,
        help="Structured Streaming checkpoint (stream mode); "
        "default <store>/_stream_ckpt",
    )
    ap.add_argument(
        "--one-batch",
        action="store_true",
        help="ingest --input as ONE micro-batch and exit (no streaming)",
    )
    ap.add_argument("--max-block-size", type=int, default=1000)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master for direct runs (e.g. local[8]); leave unset "
        "under spark-submit so the cluster manager decides",
    )
    args = ap.parse_args(argv)

    from record_linkage_ldu_spark.session import build_session
    from record_linkage_ldu_spark.streaming.incremental import (
        incremental_linkage_batch,
        recover_store,
        stream_documents_to_clusters,
    )

    spark = build_session(
        app_name="record-linkage-incremental",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = linkage_config(args)

    # roll back any half-committed batch from a crashed prior run
    # BEFORE ingesting (stream mode does this inside each batch too;
    # doing it here makes the repair visible in the job log)
    rolled_back = recover_store(spark, args.store, cfg=cfg)

    if args.one_batch:
        new_docs = spark.read.parquet(args.input)
        stats = incremental_linkage_batch(spark, new_docs, args.store, cfg=cfg)
        print(json.dumps({"rolled_back": rolled_back, **stats}, default=str))
    else:
        q = stream_documents_to_clusters(
            spark,
            args.input,
            args.store,
            args.checkpoint_dir or f"{args.store}/_stream_ckpt",
            cfg=cfg,
        )
        q.awaitTermination()
        # a fresh store with an empty input drains zero batches and
        # never creates <store>/clusters — that is a healthy no-op run
        # (the watcher may be deployed before the first data lands),
        # not an error
        import os

        cl_path = f"{args.store}/clusters"
        if os.path.isdir(cl_path):
            clusters = spark.read.parquet(cl_path)
            summary = {
                "rolled_back": rolled_back,
                "docs": clusters.count(),
                "clusters": clusters.select("cluster_id")
                .distinct()
                .count(),
            }
        else:
            summary = {"rolled_back": rolled_back, "docs": 0, "clusters": 0}
        print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
