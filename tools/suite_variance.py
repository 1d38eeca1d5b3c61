#!/usr/bin/env python3
"""Replay the driver's bench protocol N times and emit the per-query
median + spread the round verdict can adjudicate driver readings against.

Motivation (VERDICT r10 "Next round" #5): every round since r8 has spent
a cycle adjudicating driver-vs-local gaps (q158, q04, q250/q255, r10's
q257/q20/q258/q213) with fresh-JVM isolates — which run 1.2-1.5x slower
than in-suite (cold JIT, no shared warmup) and therefore argue past the
driver's in-suite numbers. This harness replays the driver's EXACT
protocol instead: one `graft.Bench` process per run (same query order,
same single JVM across the whole ledger, same confs — sf0.1,
min-of-2 noop-sink executions per query, the
between-query unpersist hygiene), N independent runs, and aggregates
per-query median / min / max / relative spread. A driver reading outside
[min, max] of this distribution is a genuine anomaly; inside it is
in-suite variance, adjudicated without another isolates campaign.

Usage: python3 tools/suite_variance.py [runs] [outfile]
       (defaults: 3, SUITE_VARIANCE.json; set SPARK_GRAFT_SF_DIR to
       override the sf0.1 fixture dir; the runs use SPARK_GRAFT_CPUS,
       else every CPU this process may run on, and record the count)

Output: one JSON object with per-query {median,min,max,spread} for both
the timed and nosort passes, plus per-run totals and the run protocol.
"""
import json
import os
import statistics
import subprocess
import sys

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
OUT = sys.argv[2] if len(sys.argv) > 2 else "SUITE_VARIANCE.json"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def one_run(i: int) -> dict:
    detail = f"/tmp/suite_variance_run{i}.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=SF_DIR,
               SPARK_GRAFT_CPUS=CPUS,
               SPARK_GRAFT_DETAIL_OUT=detail)
    log = f"/tmp/suite_variance_run{i}.log"
    with open(log, "w") as lf:
        subprocess.run(["sbt", "runMain graft.Bench"], cwd=REPO, env=env,
                       stdout=lf, stderr=subprocess.STDOUT, check=True)
    with open(detail) as f:
        return json.load(f)


def aggregate(per_run: list, key: str) -> dict:
    # union across ALL runs: a query that crashed out of run 0's detail
    # map must surface as a (possibly all-failed) row, not vanish
    names = sorted(set().union(*(r[key] for r in per_run)))
    out = {}
    for name in names:
        vals = [r[key][name] for r in per_run if r[key].get(name, -1) >= 0]
        if not vals:
            out[name] = {"err": "all runs failed"}
            continue
        med = statistics.median(vals)
        out[name] = {
            "median": round(med, 3),
            "min": round(min(vals), 3),
            "max": round(max(vals), 3),
            # relative spread: (max-min)/median — the in-suite noise band
            "spread": round((max(vals) - min(vals)) / med, 3) if med else 0,
        }
    return out


def main() -> None:
    per_run = [one_run(i) for i in range(RUNS)]
    result = {
        "protocol": {
            "runs": RUNS,
            "sf_dir": SF_DIR,
            "cpus": int(CPUS),
            "form": "graft.Bench full ledger, one fresh JVM per run, "
                    "driver order/confs, min-of-2 noop-sink per query",
        },
        "totals_timed": [round(sum(v for v in r["detail_queries"].values()
                                   if v >= 0), 1) for r in per_run],
        "totals_nosort": [round(sum(v for v in r["detail_nosort"].values()
                                    if v >= 0), 1) for r in per_run],
        "queries_timed": aggregate(per_run, "detail_queries"),
        "queries_nosort": aggregate(per_run, "detail_nosort"),
    }
    with open(os.path.join(REPO, OUT), "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {OUT}: totals_timed={result['totals_timed']}")


if __name__ == "__main__":
    main()
