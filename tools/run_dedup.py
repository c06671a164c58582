#!/usr/bin/env python
"""spark-submit entry point for the INGEST-TIME near-duplicate guard
(streaming/incremental.py::incremental_dedup_batch) — the dedup
sibling of run_incremental.py, completing the job family.

Each invocation ingests one new-documents table as one micro-batch
against a persistent dedup store (an Airflow/cron task per arrival):

    spark-submit --py-files dist/record_linkage_ldu_spark.zip \\
        tools/run_dedup.py \\
        --input /data/batch_2026_08_19 \\
        --store /data/dedup_store

The store (<store>/bands|shingles|flags) is append-only behind a
manifest-gated atomic commit; a crash mid-batch rolls back on the
next run.  Flags fire only on exact shingle-Jaccard >= --threshold
verified against the stored kept docs' shingle sets (band collisions
are candidates, not verdicts), sketch parameters are pinned in the
store and a mismatched re-run is refused, and per-batch work is
O(batch): the store-side probe is pruned to the band keys the batch
touches.  Downstream consumers read <store>/flags
(doc_id, duplicate_of, jaccard, via) to exclude or reroute
duplicates before linkage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input", required=True, help="one new-documents parquet table"
    )
    ap.add_argument("--store", required=True, help="persistent dedup store dir")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--num-hashes", type=int, default=12)
    ap.add_argument("--band-size", type=int, default=3)
    ap.add_argument("--shingle-size", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument(
        "--hash-fn",
        default="md5",
        choices=("md5", "xxhash64"),
        help="signature hash family (pinned in the store on creation)",
    )
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
        incremental_dedup_batch,
    )

    spark = build_session(
        app_name="record-linkage-dedup-guard",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    new_docs = spark.read.parquet(args.input)
    stats = incremental_dedup_batch(
        spark,
        new_docs,
        args.store,
        text_col=args.text_col,
        id_col=args.id_col,
        num_hashes=args.num_hashes,
        band_size=args.band_size,
        shingle_size=args.shingle_size,
        threshold=args.threshold,
        hash_fn=args.hash_fn,
    )
    print(json.dumps(stats, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
