#!/usr/bin/env python3
"""Strictly alternating fresh-JVM A/B of `graft.Bench` between two checkouts.

Each run is one `sbt runMain graft.Bench <queries>` (Bench forks a fresh
JVM, stages the co-purchase frames and warms up untimed, then times each
query min-of-2 with and without its top sort). Runs alternate strictly
between the sides, and the side that runs first alternates too: the
parent first in even pairs, the change first in odd ones, so drift inside
a pair lands on both sides alike. The report records each pair's order.
Every run gets its own SPARK_GRAFT_DETAIL_OUT file and the same
SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR.

Reported per query, for the sorted and the nosort pass: both medians,
the parent's quartiles and IQR, the change's win count over the pairs,
and whether the change's median is worse than the parent's by more than
the parent's IQR.

A run that fails (sbt exits non-zero or leaves no detail file) is
recorded with every query at -1 and its log path, and counts in the
summary's failed_pairs; the remaining pairs still run. The report is
rewritten after every pair, so an interrupted A/B keeps what it measured.

Usage:
  python3 tools/ab.py --parent DIR --change DIR [--pairs 5] [--cpus N]
      [--sf SF_DIR] [--work DIR] --out FILE.json QUERY...

--sf defaults to SPARK_GRAFT_SF_DIR, else graft.Bench's own default.

Both checkouts are compiled once, untimed, before the first run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_bench(checkout, queries, env, detail, log):
    env = dict(env, SPARK_GRAFT_DETAIL_OUT=detail)
    if os.path.exists(detail):
        os.remove(detail)
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch",
                             "runMain graft.Bench " + " ".join(queries)],
                            cwd=checkout, env=env, stdout=lf,
                            stderr=subprocess.STDOUT).returncode
    if rc == 0:
        try:
            with open(detail) as f:
                got = json.load(f)
            return {"sorted": got["detail_queries"],
                    "nosort": got["detail_nosort"]}
        except (OSError, ValueError, KeyError):
            pass
    failed = {q: -1.0 for q in queries}
    return {"sorted": failed, "nosort": dict(failed), "failed_log": log}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q3


def summarize(runs, queries, pass_name):
    out = {}
    for q in queries:
        pairs = [(p[pass_name].get(q, -1.0), c[pass_name].get(q, -1.0))
                 for p, c in zip(runs["parent"], runs["change"])]
        ok = [(p, c) for p, c in pairs if p >= 0 and c >= 0]
        if not ok:
            out[q] = {"pairs": 0, "failed_pairs": len(pairs)}
            continue
        par = [p for p, _ in ok]
        chg = [c for _, c in ok]
        q1, q3 = quartiles(par)
        pm, cm = statistics.median(par), statistics.median(chg)
        out[q] = {
            "parent_median": round(pm, 4), "change_median": round(cm, 4),
            "ratio": round(cm / pm, 4) if pm > 0 else None,
            "parent_q1": round(q1, 4), "parent_q3": round(q3, 4),
            "parent_iqr": round(q3 - q1, 4),
            "change_wins": sum(c < p for p, c in ok),
            "pairs": len(ok), "failed_pairs": len(pairs) - len(ok),
            "worse_than_parent_iqr": cm - pm > q3 - q1,
        }
    return out


def write_report(a, runs, orders):
    report = {
        "protocol": {
            "order": "sides alternate, the first side alternating by "
                     "pair (parent first in even pairs); one fresh JVM "
                     "per run",
            "pair_orders": orders,
            "pairs": len(orders), "cpus": a.cpus,
            "sf": os.path.basename(os.path.normpath(a.sf or "default")),
            "timing": "graft.Bench min-of-2 per query, sorted and nosort",
        },
        "queries": a.queries,
        "runs": runs,
        "summary": {p: summarize(runs, a.queries, p)
                    for p in ("sorted", "nosort")},
    }
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--cpus", default=str(len(os.sched_getaffinity(0))))
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--work", default="/tmp/graft-ab")
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    os.makedirs(a.work, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=a.cpus)
    if a.sf:
        env["SPARK_GRAFT_SF_DIR"] = a.sf
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    for side, checkout in sides.items():
        with open(os.path.join(a.work, f"compile-{side}.log"), "w") as lf:
            subprocess.run(["sbt", "--batch", "compile"], cwd=checkout,
                           env=env, stdout=lf, stderr=subprocess.STDOUT,
                           check=True)
    runs = {"parent": [], "change": []}
    orders = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        orders.append(list(order))
        for side in order:
            stem = os.path.join(a.work, f"{side}-{i}")
            runs[side].append(run_bench(sides[side], a.queries, env,
                                        stem + ".json", stem + ".log"))
            print(f"[ab] pair {i} {side} done", file=sys.stderr, flush=True)
        report = write_report(a, runs, orders)
    for p in ("sorted", "nosort"):
        for q, s in report["summary"][p].items():
            if s["pairs"]:
                print(f"{p:7s} {q:22s} {s['parent_median']:8.3f} -> "
                      f"{s['change_median']:8.3f} s  IQR {s['parent_iqr']:.3f}"
                      f"  wins {s['change_wins']}/{s['pairs']}"
                      f"{'  WORSE' if s['worse_than_parent_iqr'] else ''}")
            else:
                print(f"{p:7s} {q:22s} all pairs failed")


if __name__ == "__main__":
    main()
