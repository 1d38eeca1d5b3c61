#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 \
        --seconds 14 --trace 0 [--out DIR]

Builds the program and the harness from source (cached), generates the
workload's inputs from the seed, runs the harness JVM at local[<nproc>],
checks every output, writes a result file under --out and prints, as the
last line of stdout, one JSON object with `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
Exits 0 when every output check passed, 1 when one failed or the harness
did not finish, 2 when the program cannot be built.
"""
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
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402
try:
    import oracle  # noqa: E402
except ImportError as e:  # the checkout lacks the project's tools/check.py
    sys.exit(f"perfbench: cannot load the output check: {e}")
from workloads import SCALE, WORKLOADS  # noqa: E402

DEADLINE_S = 170
XMX = "3g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=None,
                   help="result directory (default <build dir>/results)")
    return p.parse_args(argv)


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git work
    tree of its own."""
    try:
        r = subprocess.run(
            ["git", "-C", str(build.ROOT), "rev-parse", "--show-toplevel",
             "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or Path(out[0]) != build.ROOT:
        return None
    return out[1]


def input_sizes(data, trips):
    import pyarrow.parquet as pq
    sizes = {t: pq.ParquetFile(f"{data}/{t}.parquet").metadata.num_rows
             for t in oracle.TABLES}
    for f in trips:
        sizes[os.path.basename(f)] = pq.ParquetFile(f).metadata.num_rows
    return sizes


def run_harness(cp, run_dir, args, w, trips, sizes, cores, budget_s):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for pkg in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += [f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'spark-warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "perfbench.Harness",
            f"workload={args.workload}", f"data={run_dir / 'data'}",
            f"out={run_dir}", f"queries={','.join(w['queries'])}",
            f"trips={','.join(trips)}",
            f"trip_rows={','.join(str(sizes[os.path.basename(f)]) for f in trips)}",
            f"copurchase={int(w['copurchase'])}",
            f"cores={cores}",
            f"rounds={max(1, int(args.seconds // w['round_s']))}",
            f"trace={args.trace}", f"run_id={args.workload}-{args.seed}"]
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        lines = log.read_text(errors="replace").splitlines()
        errs = [ln for ln in lines if "Exception" in ln or "Error" in ln]
        for ln in (errs or lines)[-8:]:
            print(f"perfbench: harness: {ln}", file=sys.stderr)
        raise RuntimeError(f"harness exited with {rc}")
    return json.loads((run_dir / "raw.json").read_text())


def main(argv=None):
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    t_build = time.monotonic()
    try:
        cp, source_key = build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    # the deadline counts from here: a first run may spend minutes building
    t0 = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    out_dir = Path(args.out) if args.out else build.build_dir() / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    run_dir = build.build_dir() / "runs" / \
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        phases = {"build_s": t0 - t_build}
        trips = fixtures.generate(str(run_dir / "data"), args.seed, SCALE,
                                  with_trips=w["trips"])
        sizes = input_sizes(run_dir / "data", trips)
        phases["inputs_s"] = time.monotonic() - t0
        raw = run_harness(cp, run_dir, args, w, trips, sizes, cores,
                          DEADLINE_S - (time.monotonic() - t0))
        phases["harness_s"] = time.monotonic() - t0 - phases["inputs_s"]
        return report(args, w, raw, run_dir, trips, sizes, cores,
                      source_key, out_dir, phases)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, w, raw, run_dir, trips, sizes, cores, source_key, out_dir,
           phases):
    t_checks = time.monotonic()
    con = oracle.connect(run_dir / "data")
    checks = oracle.check_queries(con, run_dir, raw["outputs"],
                                  raw.get("oracle", {}))
    if trips:
        checks += oracle.check_ingest(con, trips, raw)
    ops = [o for r in raw["rounds"] for o in r["ops"]]
    op_errors = [o for o in ops if o.get("error")]
    bad = [(n, why) for n, why in checks if why]
    attempted = len(ops) + len(checks)
    failed = len(op_errors) + len(bad)

    phases["checks_s"] = time.monotonic() - t_checks
    phases["harness_main_s"] = raw["main_s"]
    phases["outputs_s"] = raw["outputs_s"]
    e2e, detail = metrics.end_to_end(raw)
    ingest = metrics.ingest_metrics(
        [r for r in raw["rounds"] if not r["traced"]])
    if args.trace:
        values = metrics.per_layer(raw, cores)
        units = dict(metrics.PER_LAYER)
    else:
        values, units = e2e, dict(metrics.END_TO_END)

    env = {"nproc": cores, "master": f"local[{cores}]", "xmx": XMX,
           "spark_version": raw["spark_version"],
           "jdk_version": raw["jdk_version"], "git_commit": git_commit(),
           "source_digest": source_key, "python": platform.python_version()}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": env,
        "why": w["why"], "loop": "closed", "clients": 1, "scale": SCALE,
        "queries": w["queries"], "input_sizes": sizes,
        "fixture_dir": os.path.relpath(run_dir / "data", build.ROOT),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "end_to_end": e2e, "tail": detail, "setup": raw["setup"],
        "ops": [{k: o[k] for k in ("name", "mode", "latency_s")} | {"round": i}
                for i, r in enumerate(raw["rounds"]) for o in r["ops"]],
        "phases_s": phases,
        "ingest": ingest,
        "error_rate": failed / max(1, attempted),
        "checks": [{"name": n, "ok": why is None, "reason": why}
                   for n, why in checks],
        "op_errors": [{"name": o["name"], "error": o["error"]}
                      for o in op_errors],
    }
    if args.trace:
        spans = raw.get("spans", [])
        result["self_time_s"] = metrics.self_time_by_name(spans)
        spans_file = out_dir / f"spans-{tag}.json"
        spans_file.write_text(json.dumps(
            {"run_id": raw["run_id"], "spans": spans,
             "job_groups": raw.get("groups", {})}))
        result["spans_file"] = os.path.relpath(spans_file, build.ROOT)
    (out_dir / f"result-{tag}.json").write_text(json.dumps(result, indent=1))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"{env['master']} -Xmx{XMX} spark {env['spark_version']} "
          f"jdk {env['jdk_version']} scale sf{SCALE}")
    for k in units:
        print(f"  {k:40s} {values[k]:>16.6g} {units[k]}")
    if not args.trace:
        print(f"  {'query_tail_s':40s} {detail['query_tail_s']:>16.6g} s "
              f"(p{detail['query_tail_percentile']:.1f} of "
              f"{detail['query_samples']} samples, "
              f"{detail['query_tail_beyond']} beyond; "
              f"{detail['rounds']} rounds)")
        print(f"  {'peak_rss_mb':40s} {detail['peak_rss_mb']:>16.6g} MB")
        for k, v in result["ingest"].items():
            print(f"  {k:40s} {v:>16.6g} {dict(metrics.PER_LAYER)[k]}")
    print(f"  {'error_rate':40s} {result['error_rate']:>16.6g} fraction "
          f"({failed}/{attempted})")
    for n, why in bad:
        print(f"  FAIL {n}: {why}")
    for o in op_errors:
        print(f"  ERROR {o['name']}: {o['error']}")
    print(metrics.result_line(not bad and not op_errors, attempted, failed,
                              values, units))
    return 0 if not bad and not op_errors else 1


if __name__ == "__main__":
    sys.exit(main())
