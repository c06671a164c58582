"""Per-layer metrics of the traced run, measured from the outside.

Sources, none of which changes the program:

* the stage walls and rows the pipeline already returns
  (``LinkageResult.stage_info``, the StageStore manifests);
* the Spark event log of the benchmark's own session.  Jobs are
  assigned to a layer by the time window they were submitted in, never
  by job group: ``generate_candidates`` submits some jobs from its own
  worker threads.  The StageStore's extra jobs are found by call site
  (the SQL execution description) inside each stage window;
* timed calls into public functions (``records_view``,
  ``connected_components``, the ``*_sim_col`` kernels,
  ``rules.mask_stats``) made after the timed round.

A layer a workload does not exercise reports 0 (README, "Layers").
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from math import comb
from pathlib import Path

from corpus import entity_of
from workloads import dir_bytes

STAGES = ("records", "pairs", "scores", "matches", "clusters")
KERNELS = {"lev": "lev_sim_col", "ro": "ro_sim_col", "jw": "jw_sim_col", "dl": "dl_sim_col"}
# random pairs per similarity sample: docs^2 / (2 * buckets)
KERNEL_BUCKETS = 150
KERNEL_REPS = 3

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "spans.wall_s": "s",
    "spans.executor_s": "s",
    "spans.rows": "count",
    "blocking.wall_s": "s",
    "blocking.executor_s": "s",
    "blocking.jobs": "count",
    "blocking.shuffle_write_mb": "MB",
    "blocking.spill_mb": "MB",
    "blocking.task_skew": "ratio",
    "blocking.pairs": "count",
    "blocking.pair_recall": "ratio",
    "blocking.match_yield": "ratio",
    "scoring.wall_s": "s",
    "scoring.executor_s": "s",
    "scoring.gc_s": "s",
    "scoring.task_skew": "ratio",
    "scoring.pairs_per_s": "pairs/s",
    "similarity.lev_ns": "ns",
    "similarity.ro_ns": "ns",
    "similarity.jw_ns": "ns",
    "similarity.dl_ns": "ns",
    "rules.wall_s": "s",
    "rules.matches": "count",
    "rules.mask0_count": "count",
    "rules.mask1_count": "count",
    "rules.mask2_count": "count",
    "rules.mask3_count": "count",
    "cc.wall_s": "s",
    "cc.jobs": "count",
    "cc.edges": "count",
    "cc.clusters": "count",
    "cc.largest": "count",
    "io.extra_jobs": "count",
    "io.extra_s": "s",
    "io.written_mb": "MB",
    "plans.unstaged_s": "s",
    "incremental.jobs_per_batch": "count",
    "incremental.executor_s_per_batch": "s",
    "incremental.candidate_key_rows": "count",
    "incremental.pairs_per_new_doc": "pairs/doc",
    "incremental.compact_s": "s",
    "incremental.compact_rewritten_mb": "MB",
    "incremental.files_before_compact": "count",
}


# ------------------------------------------------------------------
# event log
# ------------------------------------------------------------------


class EventLog:
    """Jobs, task metrics and SQL executions of one session's event log
    (times in epoch seconds, like ``time.time()``)."""

    def __init__(self, log_dir: Path):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        files = [
            f for f in sorted(glob.glob(str(log_dir / "**" / "*"), recursive=True))
            if os.path.isfile(f) and not os.path.basename(f).startswith(("appstatus", "."))
        ]
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1e3,
                "end": None,
                "stages": e["Stage IDs"],
                "sql": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = {"start": e["time"] / 1e3, "end": None,
                                          "desc": e.get("description") or ""}
        elif kind.endswith("SQLExecutionEnd") and e["executionId"] in self.sql:
            self.sql[e["executionId"]]["end"] = e["time"] / 1e3

    def jobs_in(self, start: float, end: float) -> list[int]:
        return [j for j, job in self.jobs.items() if start <= job["submit"] <= end]

    def cost(self, jobs: list[int]) -> dict:
        stages = {s for j in jobs for s in self.jobs[j]["stages"] if s in self.tasks}
        tasks = [t for s in stages for t in self.tasks[s]]
        skew = 0.0
        if stages:
            # the layer's heaviest stage: max task time over the median
            heavy = max(stages, key=lambda s: sum(t["run_ms"] for t in self.tasks[s]))
            runs = [t["run_ms"] for t in self.tasks[heavy]]
            skew = max(runs) / max(statistics.median(runs), 1)
        return {
            "jobs": len(jobs),
            "executor_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "task_skew": skew,
        }

    def storage_extras(self, start: float, end: float) -> list[int]:
        """Jobs of the SQL executions a StageStore stage runs after its
        data write: the ``partition_metrics`` write and the row count."""
        execs = sorted(
            (x["start"], i, x["desc"]) for i, x in self.sql.items() if start <= x["start"] <= end
        )
        writes = [i for _, i, d in execs if d.startswith("parquet at")]
        if not writes:
            return []
        first = self.sql[writes[0]]["start"]
        extra = {
            i for t, i, d in execs
            if t > first and d.startswith(("parquet at", "count at"))
        }
        return [j for j, job in self.jobs.items() if job["sql"] in extra]

    def wall(self, jobs: list[int]) -> float:
        return sum((self.jobs[j]["end"] or self.jobs[j]["submit"]) - self.jobs[j]["submit"] for j in jobs)

    def last_fingerprint_end(self, start: float, end: float) -> float:
        """End of the last ``input_fingerprint`` collect in the window."""
        ends = [
            x["end"] for x in self.sql.values()
            if start <= x["start"] <= end and x["desc"].startswith("collect at")
            and "sources/io.py" in x["desc"] and x["end"]
        ]
        return max(ends, default=start)


# ------------------------------------------------------------------
# live probes (need the session)
# ------------------------------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _timed(fn) -> dict:
    t0 = time.time()
    fn()
    return {"start": t0, "end": time.time()}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_sample(spark, docs, seed: int):
    """Normalized (name, email, address) value pairs: every planted
    duplicate pair plus seeded random pairs, pinned."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.plans.linkage import records_view

    fields = ("name", "email", "address")
    rec = records_view(docs).select("doc_id", *fields)
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(KERNEL_BUCKETS))
    entity = F.substring("doc_id", 2, 9)

    def side(tag: str):
        return rec.select(
            bucket.alias("bucket"), entity.alias("entity"),
            F.col("doc_id").alias(f"{tag}_id"), *[F.col(c).alias(f"{tag}_{c}") for c in fields],
        )

    x, y = side("x"), side("y")
    random_pairs = x.join(y, "bucket").where(F.col("x_id") < F.col("y_id"))
    true_pairs = x.drop("bucket").join(y.drop("bucket"), "entity").where(F.col("x_id") < F.col("y_id"))
    cols = [F.struct(F.col(f"x_{c}").alias("a"), F.col(f"y_{c}").alias("b")) for c in fields]
    pairs = (
        random_pairs.select(F.explode(F.array(*cols)).alias("p"))
        .unionByName(true_pairs.select(F.explode(F.array(*cols)).alias("p")))
        .select("p.a", "p.b")
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=True)
    )
    return pairs, pairs.count()


def probe(run, workload: str, res: dict, docs, start_s: float) -> dict:
    """Everything the per-layer figures need from the live session;
    runs after the timed round."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.functions import similarity
    from record_linkage_ldu_spark.operators import rules
    from record_linkage_ldu_spark.operators.cc import connected_components
    from record_linkage_ldu_spark.plans.linkage import records_view

    spark = run.spark
    out = {"workload": workload, "start_s": start_s, "windows": run.windows, "rows": res["rows"]}

    if workload != "self":
        # normalization has no stage of its own here: time it alone
        out["spans_call"] = _timed(lambda: _noop(records_view(docs)))
        out["spans_rows"] = res["docs"]
    if workload == "incremental":
        store = run.windows["store"]
        edges = spark.read.parquet(str(store / "edges")).select("doc_id_1", "doc_id_2")
        verts = spark.read.parquet(str(store / "records")).select("doc_id")
        out["cc_call"] = _timed(
            lambda: _noop(connected_components(edges, vertices=verts, method="auto"))
        )
        out["compact_bytes"] = sum(
            dir_bytes(store / t) for t in run.windows["compact"]["stats"]
        )
    else:
        last = Path(run.windows["rounds"][-1]["dir"]) / "_stages"
        mode = "cross" if workload == "cross" else "self"
        stats = rules.mask_stats(spark.read.parquet(str(last / "scores" / "data")), mode).collect()[0]
        out["masks"] = {k: int(v or 0) for k, v in stats.asDict().items() if k.endswith("_count")}
        out["candidates"] = [
            tuple(r) for r in spark.read.parquet(str(last / "pairs" / "data"))
            .select("doc_id_1", "doc_id_2").collect()
        ]
        out["manifests"] = {}
        for stage in STAGES:
            path = last / stage / "_stage_manifest.json"
            if path.exists():
                with open(path) as f:
                    out["manifests"][stage] = {**json.load(f), "end": os.path.getmtime(path)}
        out["written_bytes"] = dir_bytes(last)

    sample, n_pairs = kernel_sample(spark, docs, run.seed)
    a, b = F.col("a"), F.col("b")
    calls = {"base": lambda: sample.select(F.sum(F.length(a) + F.length(b))).collect()}
    for name, fn in KERNELS.items():
        col = getattr(similarity, fn)(a, b)
        calls[name] = lambda col=col: sample.select(F.sum(col)).collect()
    out["kernel_pairs"] = n_pairs
    out["kernel_calls"] = {
        name: [_timed(call) for _ in range(KERNEL_REPS)] for name, call in calls.items()
    }
    out["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    return out


# ------------------------------------------------------------------
# attribution (after the session stopped and flushed its event log)
# ------------------------------------------------------------------


def _true_pairs(docs: list[str], cross: bool) -> int:
    sizes = defaultdict(int)
    for d in docs:
        sizes[entity_of(d)] += 1
    return sum((n - 1) if cross else comb(n, 2) for n in sizes.values())


def per_layer(p: dict, log_dir: Path) -> dict:
    ev = EventLog(log_dir)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = p["start_s"]
    m["session.peak_rss_mb"] = p["peak_rss_mb"]
    clusters, matches = p["rows"]["clusters"], p["rows"]["matches"]

    if "spans_call" in p:
        c = p["spans_call"]
        m["spans.wall_s"] = c["end"] - c["start"]
        m["spans.executor_s"] = ev.cost(ev.jobs_in(c["start"], c["end"]))["executor_s"]
        m["spans.rows"] = p["spans_rows"]

    sizes = defaultdict(int)
    for _, label in clusters:
        sizes[label] += 1
    m["cc.edges"] = len(matches)
    m["cc.clusters"] = len(sizes)
    m["cc.largest"] = max(sizes.values(), default=0)

    if p["workload"] == "incremental":
        _incremental(p, ev, m)
    else:
        _batch(p, ev, m)

    base = statistics.median(
        ev.cost(ev.jobs_in(c["start"], c["end"]))["executor_s"] for c in p["kernel_calls"]["base"]
    )
    for name in KERNELS:
        exe = statistics.median(
            ev.cost(ev.jobs_in(c["start"], c["end"]))["executor_s"] for c in p["kernel_calls"][name]
        )
        m[f"similarity.{name}_ns"] = (exe - base) * 1e9 / p["kernel_pairs"]
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}


def _batch(p: dict, ev: EventLog, m: dict) -> None:
    rnd = p["windows"]["rounds"][-1]
    man = p["manifests"]
    win = {}
    for stage, info in rnd["stage_info"].items():
        if isinstance(info, dict) and stage in man:
            win[stage] = (man[stage]["end"] - info["wall_s"], man[stage]["end"], info["wall_s"])
    rows = {s: man[s]["rows"] for s in man}

    if "records" in win:
        s, e, wall = win["records"]
        m["spans.wall_s"] = wall
        m["spans.executor_s"] = ev.cost(ev.jobs_in(s, e))["executor_s"]
        m["spans.rows"] = rows["records"]

    # blocking: key build, census and tier joins run at plan-build time,
    # before the pairs stage window opens — count them from the end of
    # the records stage (self) or of the input fingerprint (cross)
    b_start = win["records"][1] if "records" in win else ev.last_fingerprint_end(rnd["start"], win["pairs"][0])
    b_end = win["pairs"][1]
    cost = ev.cost(ev.jobs_in(b_start, b_end))
    m["blocking.wall_s"] = b_end - b_start
    for k in ("executor_s", "jobs", "shuffle_write_mb", "spill_mb", "task_skew"):
        m[f"blocking.{k}"] = cost[k]
    cross = p["workload"] == "cross"
    docs = [d for d, _ in p["rows"]["clusters"]]
    hits = sum(1 for a, b in p["candidates"] if entity_of(a) == entity_of(b))
    m["blocking.pairs"] = rows["pairs"]
    m["blocking.pair_recall"] = hits / _true_pairs(docs, cross)
    m["blocking.match_yield"] = rows["matches"] / max(rows["pairs"], 1)

    s, e, wall = win["scores"]
    cost = ev.cost(ev.jobs_in(s, e))
    m["scoring.wall_s"] = wall
    for k in ("executor_s", "gc_s", "task_skew"):
        m[f"scoring.{k}"] = cost[k]
    m["scoring.pairs_per_s"] = rows["pairs"] / wall

    m["rules.wall_s"] = win["matches"][2]
    m["rules.matches"] = rows["matches"]
    for k, v in p["masks"].items():
        m[f"rules.{k}"] = v

    # CC: its plan-build jobs (driver union-find collect) run between
    # the matches and clusters stages
    cc_start, cc_end = win["matches"][1], win["clusters"][1]
    m["cc.wall_s"] = cc_end - cc_start
    m["cc.jobs"] = len(ev.jobs_in(cc_start, cc_end))

    extras = [j for s, e, _ in win.values() for j in ev.storage_extras(s, e)]
    m["io.extra_jobs"] = len(extras)
    m["io.extra_s"] = ev.wall(extras)
    m["io.written_mb"] = p["written_bytes"] / 1e6
    m["plans.unstaged_s"] = (rnd["run_end"] - rnd["start"]) - sum(x[2] for x in win.values())


def _incremental(p: dict, ev: EventLog, m: dict) -> None:
    w = p["windows"]
    batches = w["batches"]
    stats = w["batch_stats"]
    jobs = [ev.jobs_in(b["start"], b["end"]) for b in batches]
    m["incremental.jobs_per_batch"] = statistics.mean(len(j) for j in jobs)
    m["incremental.executor_s_per_batch"] = statistics.mean(ev.cost(j)["executor_s"] for j in jobs)
    m["incremental.candidate_key_rows"] = statistics.median(s["candidate_key_rows"] for s in stats)
    new_docs = sum(s["new_docs"] for s in stats)
    scored = sum(s["pairs_scored"] for s in stats)
    m["incremental.pairs_per_new_doc"] = scored / max(new_docs, 1)
    c = w["compact"]
    m["incremental.compact_s"] = c["end"] - c["start"]
    m["incremental.compact_rewritten_mb"] = p["compact_bytes"] / 1e6
    m["incremental.files_before_compact"] = sum(t["files_before"] for t in c["stats"].values())

    new_edges = stats[-1]["edges"] - w["seed_stats"]["edges"]
    m["blocking.pairs"] = scored
    m["blocking.match_yield"] = new_edges / max(scored, 1)
    m["rules.matches"] = new_edges
    cc = p["cc_call"]
    m["cc.wall_s"] = cc["end"] - cc["start"]
    m["cc.jobs"] = len(ev.jobs_in(cc["start"], cc["end"]))
