#!/usr/bin/env python3
"""Steadiness check: run one workload two sets of N times and compare.

    python3 linkbench/steady.py --workload self --runs 10

Each run is a fresh ``run.py`` process with its own seed (set 1 takes
seeds first..first+N-1, set 2 the next N).  For every metric the
command prints each set's median and quartiles (``statistics.quantiles``,
n=4), the spread (quartile distance over the median) and whether the
sets agree within the metric's bound from ``BENCHMARK.json``: the spread
stays within the bound (``setup_s`` excepted) and the second median is
not worse than the first by more than the bound.  It also checks that
the failed share of operations is the same in both sets.  The last line
is the whole comparison as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    *_, context, result = out.stdout.strip().splitlines()
    return {**json.loads(result), "context": json.loads(context)["context"]}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def compare(sets: list[list[dict]], spec: dict, trace: int) -> dict:
    declared = spec["per_layer" if trace else "end_to_end"]
    report = {"metrics": {}, "ok": True}
    for metric in declared:
        name, bound = metric["name"], metric.get("bound")
        a, b = ([r["metrics"][name]["value"] for r in s] for s in sets)
        sa, sb = summary(a), summary(b)
        row = {"unit": metric["unit"], "set1": sa, "set2": sb, "bound": bound, "values": [a, b]}
        if bound is not None:
            sign = 1 if metric["better"] == "lower" else -1
            worse = sign * (sb["median"] - sa["median"]) / sa["median"]
            spread_ok = name == "setup_s" or max(sa["spread"], sb["spread"]) <= bound
            row["second_worse_by"] = worse
            row["agree"] = spread_ok and worse <= bound
            report["ok"] &= row["agree"]
        report["metrics"][name] = row
    shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
    report["failed_share"] = shares
    report["cpu_steal_share"] = [
        statistics.median(r["context"]["cpu_steal_share"] for r in s) for s in sets
    ]
    if trace:
        # the traced run's own end-to-end walls, for its overhead
        report["traced_end_to_end"] = {
            k: statistics.median(r["context"]["traced_end_to_end"][k] for s in sets for r in s)
            for k in sets[0][0]["context"]["traced_end_to_end"]
        }
    report["correct"] = all(r["correct"] for s in sets for r in s)
    report["ok"] &= shares[0] == shares[1] and report["correct"]
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    sets = []
    for s in range(2):
        seeds = range(args.first_seed + s * args.runs, args.first_seed + (s + 1) * args.runs)
        sets.append([one_run(args.workload, seed, spec["run_seconds"], args.trace) for seed in seeds])
    report = compare(sets, spec, args.trace)
    print(f"{'metric':<36}{'unit':>10}{'median 1':>12}{'median 2':>12}{'spread 1':>10}{'spread 2':>10}{'bound':>7}  agree")
    for name, row in report["metrics"].items():
        print(f"{name:<36}{row['unit']:>10}{row['set1']['median']:>12.4g}{row['set2']['median']:>12.4g}"
              f"{row['set1']['spread']:>10.3f}{row['set2']['spread']:>10.3f}"
              f"{row['bound'] if row['bound'] is not None else '-':>7}  {row.get('agree', '-')}")
    print(f"failed share: {report['failed_share']}  correct: {report['correct']}  "
          f"median steal share: {report['cpu_steal_share']}  ok: {report['ok']}")
    print(json.dumps({"workload": args.workload, "runs": args.runs, **report}))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
