"""The three linkage workloads: set-up, timed rounds and checks.

Each workload function takes a ``Run`` (session, work dir, seed, run
length) and returns the end-to-end metrics, the operations attempted
and failed, the problems the planted-truth check found, and what the
traced run needs to attribute cost to layers (stage stores, windows,
per-batch stats).  Timed regions hold only calls into the program; the
checks read the outputs back afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import check
import corpus

# entities per workload; docs = 2.2 x entities.  Sized so that 22 runs
# of every workload fit a full check's 3,420 s window on 4 vCPUs
# (README, Sizing).
ENTITIES = {"self": 3000, "cross": 3000, "incremental": 1500}
# incremental: held-out b-copies per micro-batch, micro-batches per round
BATCH_DOCS = 150
BATCHES = 3


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    seconds: float
    setup_s: float
    windows: dict = field(default_factory=dict)


def dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _rows(spark, path: Path, *cols: str) -> list[tuple]:
    return [tuple(r) for r in spark.read.parquet(str(path)).select(*cols).collect()]


def _rounds(run: Run, body) -> list:
    """Whole rounds of ``body`` until ``run.seconds`` of measured time."""
    out, measured = [], 0.0
    while True:
        t0 = time.perf_counter()
        out.append(body(len(out)))
        measured += time.perf_counter() - t0
        if measured >= run.seconds:
            return out


def _batch_linkage(run: Run, workload: str, pipeline, all_ids, left_ids=None):
    from record_linkage_ldu_spark.sources.io import StageStore

    spark = run.spark

    def one(i: int) -> dict:
        out = run.work / f"{workload}-{i}"
        store = StageStore(spark, str(out / "_stages"))
        t0 = time.time()
        res = pipeline(store)
        t1 = time.time()
        res.clusters.write.mode("overwrite").parquet(str(out / "clusters"))
        res.matches.write.mode("overwrite").parquet(str(out / "matches"))
        t2 = time.time()
        run.windows.setdefault("rounds", []).append(
            {"dir": str(out), "start": t0, "run_end": t1, "end": t2,
             "stage_info": res.stage_info}
        )
        return {"link_s": t2 - t0, "batch_s": t1 - t0, "bytes": dir_bytes(out), "dir": out}

    rounds = _rounds(run, one)
    problems = []
    for r in rounds:
        rows = {
            "clusters": _rows(spark, r["dir"] / "clusters", "doc_id", "cluster_id"),
            "matches": _rows(spark, r["dir"] / "matches", "doc_id_1", "doc_id_2"),
        }
        found, quality = check.check_linkage(
            all_ids, rows["clusters"], rows["matches"], left_ids=left_ids
        )
        problems += found
    link = statistics.median(r["link_s"] for r in rounds)
    n_docs = len(all_ids)
    return {
        "metrics": {
            "setup_s": (run.setup_s, "s"),
            "link_s": (link, "s"),
            "docs_per_s": (n_docs / link, "docs/s"),
            "batch_s": (statistics.median(r["batch_s"] for r in rounds), "s"),
            "store_bytes_per_doc": (
                statistics.median(r["bytes"] for r in rounds) / n_docs, "B/doc"
            ),
        },
        "attempted": len(rounds),
        "failed": 0,
        "problems": problems,
        "quality": quality,
        "docs": n_docs,
        "rows": rows,
    }


def setup_corpus(run: Run, workload: str):
    docs = corpus.documents(run.spark, ENTITIES[workload], run.seed)
    ids = corpus.doc_ids(corpus.entity_keys(ENTITIES[workload], run.seed))
    return docs, ids


def self_linkage(run: Run, docs, ids) -> dict:
    from record_linkage_ldu_spark.plans.linkage import LinkageConfig, LinkagePipeline

    return _batch_linkage(
        run, "self",
        lambda store: LinkagePipeline(run.spark, LinkageConfig(), store=store).run(docs),
        ids,
    )


def cross_linkage(run: Run, docs, ids) -> dict:
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.plans.linkage import CrossLinkagePipeline, LinkageConfig

    is_left = F.col("doc_id").startswith("a")
    left, right = docs.where(is_left), docs.where(~is_left)
    left_ids = [d for d in ids if d.startswith("a")]
    return _batch_linkage(
        run, "cross",
        lambda store: CrossLinkagePipeline(run.spark, LinkageConfig(), store=store).run(left, right),
        ids, left_ids=left_ids,
    )


def setup_incremental(run: Run, docs, ids):
    """Seed the store with every doc except the held-out b copies, and
    pin each micro-batch's docs."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.streaming.incremental import incremental_linkage_batch

    batches = corpus.held_out_batches(
        ENTITIES["incremental"], run.seed, BATCHES, BATCH_DOCS
    )
    held = [d for b in batches for d in b]
    store = run.work / "store"
    run.windows["store"] = store
    run.windows["seed_stats"] = incremental_linkage_batch(
        run.spark, docs.where(~F.col("doc_id").isin(held)), str(store)
    )
    frames = [docs.where(F.col("doc_id").isin(b)).localCheckpoint(eager=True) for b in batches]
    return store, batches, frames


def incremental_linkage(run: Run, store: Path, batches, frames, ids) -> dict:
    from record_linkage_ldu_spark.streaming.incremental import (
        BATCH_MANIFEST,
        compact_store,
        incremental_linkage_batch,
    )

    spark = run.spark
    walls, stats = [], []
    # one round: every held-out micro-batch, then compaction.  The
    # held-out pool holds one round, which outlasts any run length
    # the benchmark declares.
    for frame in frames:
        t0 = time.time()
        stats.append(incremental_linkage_batch(spark, frame, str(store)))
        t1 = time.time()
        walls.append(t1 - t0)
        run.windows.setdefault("batches", []).append({"start": t0, "end": t1})
    t0 = time.time()
    compacted = compact_store(spark, str(store))
    t1 = time.time()
    run.windows["compact"] = {"start": t0, "end": t1, "stats": compacted}
    compact_s = t1 - t0

    new_docs = sum(s["new_docs"] for s in stats)
    ingested = set(ids)
    live = len(ingested)
    rows = {
        "clusters": _rows(spark, store / "clusters", "doc_id", "cluster_id"),
        "matches": _rows(spark, store / "edges", "doc_id_1", "doc_id_2"),
    }
    problems, quality = check.check_linkage(
        ingested, rows["clusters"], rows["matches"], floors=check.EXACT
    )
    with open(store / BATCH_MANIFEST) as f:
        status = json.load(f).get("status")
    if status != "complete":
        problems.append(f"last batch manifest is {status!r}, not 'complete'")
    if new_docs != len(batches) * BATCH_DOCS:
        problems.append(f"{new_docs} new docs ingested, expected {len(batches) * BATCH_DOCS}")
    run.windows["batch_stats"] = stats
    return {
        "metrics": {
            "setup_s": (run.setup_s, "s"),
            "link_s": (sum(walls) + compact_s, "s"),
            "docs_per_s": (new_docs / sum(walls), "docs/s"),
            "batch_s": (statistics.median(walls), "s"),
            "store_bytes_per_doc": (dir_bytes(store) / live, "B/doc"),
        },
        "attempted": len(walls) + 1,
        "failed": 0,
        "problems": problems,
        "quality": quality,
        "docs": live,
        "rows": rows,
    }
