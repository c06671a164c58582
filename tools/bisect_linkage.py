#!/usr/bin/env python
"""A/B bisect for the linkage_e2e driver-bench number (round-2 review:
BENCH_r02 27.9s vs r1 22.0s, unreconciled).

Two hypotheses, measured instead of narrated:
  1. the r2 default ``sn_window=8`` added the windowed
     sorted-neighborhood recall tier — work r1's 22.0s never did;
  2. host drift — this VM's wall clocks swing across rounds
     (pair_scores_native, whose code is unchanged since r1, drifted
     17.2 -> 18.8 -> ~20-24s).

Interleaved fresh-JVM runs (A = pipeline defaults, B = sn_window=0 =
the r1-equivalent candidate set) with a pure-compute normalizer
(pair scoring over a fixed candidate set) measured in the same rep, so
the SN delta and the host factor separate.

Usage: python tools/bisect_linkage.py [reps]   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from record_linkage_ldu_spark.session import build_session
from record_linkage_ldu_spark.sources.synth import synth_documents
from record_linkage_ldu_spark.operators.blocking import BlockingConfig
from record_linkage_ldu_spark.plans.linkage import LinkageConfig, LinkagePipeline

spark = build_session(app_name="bisect", master="local[32]")
spark.sparkContext.setLogLevel("ERROR")
docs = synth_documents(
    spark.read.parquet({sf_dir!r} + "/customer.parquet")
).localCheckpoint(eager=True)
docs.count()

sn = {sn}
cfg = LinkageConfig(blocking=BlockingConfig(sn_window=sn))
t0 = time.time()
res = LinkagePipeline(spark, cfg).run(docs)
n_matches = res.matches.count()
n_clusters = res.clusters.select("cluster_id").distinct().count()
wall = time.time() - t0

# host normalizer: the unchanged-since-r1 native scoring chain
import __spark_entry__ as E
t0 = time.time()
n_pairs = E._pair_scores(spark, {sf_dir!r}).count()
norm_wall = time.time() - t0
print("RESULT " + json.dumps({{
    "sn": sn, "wall": round(wall, 2), "matches": n_matches,
    "clusters": n_clusters, "norm_wall": round(norm_wall, 2),
    "norm_pairs": n_pairs,
}}))
"""


def _run(sn: int) -> dict:
    code = _CHILD.format(repo=REPO, sf_dir=SF_DIR, sn=sn)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(out.stderr[-2000:])


def main(reps: int) -> None:
    runs: list[dict] = []
    for rep in range(reps):
        for sn in (8, 0):
            r = _run(sn)
            r["rep"] = rep
            runs.append(r)
            print(json.dumps(r), flush=True)
    a = [r["wall"] for r in runs if r["sn"] == 8]
    b = [r["wall"] for r in runs if r["sn"] == 0]
    norm = [r["norm_wall"] for r in runs]
    print(json.dumps({
        "sn8_median": statistics.median(a), "sn8_all": a,
        "sn0_median": statistics.median(b), "sn0_all": b,
        "sn_tier_cost_s": round(
            statistics.median(a) - statistics.median(b), 2
        ),
        "normalizer_median": statistics.median(norm),
        "normalizer_all": norm,
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
