#!/usr/bin/env python3
"""Linkage benchmark: one workload, one process, ``local[nproc]``.

    python3 linkbench/run.py --workload self --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Workloads: ``self`` (LinkagePipeline
into a fresh StageStore, clusters and matches written to Parquet),
``cross`` (CrossLinkagePipeline, a-copies left, b/c-copies right) and
``incremental`` (micro-batches into a seeded store, then compaction).
Every run checks its outputs against the planted entities.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The line before it is the run
context (CPUs, load, versions, seed, kernel path, check details).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("self", "cross", "incremental")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, trace: bool):
    """Start the benchmark's own Spark session; every scratch file it
    writes stays under ``work``.  The traced run adds an uncompressed
    event log."""
    from record_linkage_ldu_spark.session import build_session

    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = build_session(
        app_name="linkbench", master=f"local[{cpu_count()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def kernel_path(spark) -> str:
    """Which similarity kernels scoring plans get from the kernel
    columns: the compiled JVM UDFs or the Arrow pandas-UDF fallback (a
    different program)."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.functions.similarity import ro_sim_col

    df = spark.createDataFrame([("ab", "ba")], "a string, b string")
    plan = df.select(ro_sim_col(F.col("a"), F.col("b")))._jdf.queryExecution().executedPlan().toString()
    if "ArrowEvalPython" in plan or "BatchEvalPython" in plan:
        return "arrow-fallback"
    return "jvm" if "RoSim" in plan or "rlds_ro" in plan else "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import pyspark

    import record_linkage_ldu_spark  # noqa: F401  (fails outside a checkout)
    import layers
    import workloads as wl

    load_before = os.getloadavg()
    cpu_before = cpu_times()
    work = ROOT / ".linkbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, start_s = start_session(work, bool(args.trace))
        run = wl.Run(spark=spark, work=work, seed=args.seed, seconds=args.seconds, setup_s=0.0)
        docs, ids = wl.setup_corpus(run, args.workload)
        if args.workload == "incremental":
            inc = wl.setup_incremental(run, docs, ids)
        run.setup_s = time.perf_counter() - t0
        run.windows["setup_end"] = time.time()

        if args.workload == "self":
            res = wl.self_linkage(run, docs, ids)
        elif args.workload == "cross":
            res = wl.cross_linkage(run, docs, ids)
        else:
            res = wl.incremental_linkage(run, *inc, ids)

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "key_offset": wl.corpus.key_offset(args.seed),
            "docs": res["docs"],
            "cpus": cpu_count(),
            "spark_threads": spark.sparkContext.defaultParallelism,
            "load_before": load_before,
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "kernel_path": kernel_path(spark),
            "session_start_s": start_s,
            "quality": res["quality"],
            "problems": res["problems"][:20],
        }
        if args.trace:
            context["traced_end_to_end"] = {k: v for k, (v, _) in res["metrics"].items()}
            probe = layers.probe(run, args.workload, res, docs, start_s)
        metrics = res["metrics"]
        stop_session(spark)
        spark = None
        if args.trace:
            # the event log is complete once the session has stopped
            metrics = layers.per_layer(probe, work / "eventlog")
            context["similarity_sample"] = {
                "pairs": probe["kernel_pairs"],
                "wall_s": {k: [c["end"] - c["start"] for c in calls]
                           for k, calls in probe["kernel_calls"].items()},
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["load_after"] = os.getloadavg()
    context["cpu_steal_share"] = steal_share(cpu_before, cpu_times())
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
