"""Metric arithmetic over the harness's raw record.

Pure functions only (no Spark, no DuckDB), so the benchmark's own tests can
exercise them: medians, the sample-count-aware tail percentile, span self
time, and the assembly of the end-to-end and per-layer metric sets.
"""
import json
import statistics

# (name, unit) of every end-to-end metric, in print order.
END_TO_END = [
    ("setup_s", "s"),
    ("batch_s", "s"),
    ("batch_nosort_s", "s"),
    ("query_p50_s", "s"),
]

# (name, unit) of every per-layer metric of the traced run.
PER_LAYER = [
    ("sessions.start_s", "s"), ("sessions.warmup_s", "s"),
    ("copurchase.build_s", "s"),
    ("entry.construct_s", "s"), ("entry.construct_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"),
    ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.executor_cpu_s", "s"),
    ("exec.slot_busy_frac", "fraction"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "B"),
    ("exec.gc_s", "s"), ("exec.peak_exec_mem_bytes", "B"),
    ("exec.task_skew", "ratio"), ("exec.failed_tasks", "count"),
    ("sort.extra_jobs", "count"), ("sort.overhead_s", "s"),
    ("cache.rdds_left", "count"), ("cache.release_s", "s"),
    ("functions.vector_cosine_rows_per_s", "rows/s"),
    ("functions.stable_hash_rows_per_s", "rows/s"),
    ("functions.sorted_intersect_rows_per_s", "rows/s"),
    ("sink.conform_s", "s"), ("sink.guard_s", "s"), ("sink.append_s", "s"),
    ("sink.raw_zone_s", "s"), ("sink.compact_s", "s"),
    ("sink.rows_offered", "rows"), ("sink.rows_appended", "rows"),
    ("sink.guard_keep_frac", "fraction"), ("sink.files_written", "count"),
    ("sink.bytes_written", "B"), ("sink.files_after_compact", "count"),
    ("sink.guard_growth", "ratio"),
    ("ingest.rows_per_s", "rows/s"), ("ingest.load_p50_s", "s"),
    ("ingest.readback_s", "s"), ("ingest.disk_bytes_per_row", "B/row"),
    ("streams.microbatches", "count"), ("streams.trigger_s", "s"),
    ("streams.add_batch_s", "s"), ("streams.commit_s", "s"),
    ("streams.state_rows", "rows"), ("streams.state_mem_bytes", "B"),
    ("trace.overhead_s", "s"),
    ("query.tail_s", "s"), ("jvm.peak_rss_mb", "MB"),
]

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, sample_count). With n samples sorted
    ascending, the value is the (n - beyond)-th smallest, i.e. the sample
    with exactly `beyond` samples ranked after it, and its percentile is
    100 * (n - beyond) / n. With too few samples the maximum is returned
    at its own rank, and the caller sees how many samples there were.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = max(1, n - beyond)
    return xs[k - 1], 100.0 * k / n, n


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        kids = sorted(children.get(s["id"], []), key=lambda c: c["start_s"])
        for c in kids:
            lo, hi = max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def self_time_by_name(spans):
    """Summed self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def descendants(spans, root_id):
    """Ids of every span below `root_id`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rounds(raw, traced):
    return [r for r in raw["rounds"] if r["traced"] == traced]


def _ops(rnd, *modes):
    return [o for o in rnd["ops"] if o["mode"] in modes]


def ingest_s(rnd):
    """Monthly loop, compaction and read-back time of one round (0 when
    the workload has no loop)."""
    i = rnd.get("ingest")
    return i["loop_s"] + i["compact_s"] + i["readback_s"] if i else 0.0


def batch(rnd, mode):
    """One pass of the operation list: the loop (if any) plus every query
    in `mode` ("sort" as registered, "nosort" without its top sort)."""
    return ingest_s(rnd) + sum(o["latency_s"] for o in _ops(rnd, mode))


def query_samples(raw):
    """Latency of every operation of the untraced rounds: each query as
    registered and without its top sort, and each monthly load and
    read-back."""
    return [o["latency_s"] for r in _rounds(raw, False) for o in r["ops"]]


def setup_s(raw):
    """The run's cold set-up: JVM start to `main`, session start, warm-up
    and the CoPurchase build (0 where the workload does not read it)."""
    s = raw["setup"]
    return s["jvm_boot_s"] + s["start_s"] + s["warmup_s"] + s["copurchase_s"]


def end_to_end(raw):
    """Every end-to-end metric of an untraced run, plus the tail detail."""
    rounds = _rounds(raw, False)
    samples = query_samples(raw)
    tail_v, tail_p, n = tail(samples)
    values = {
        "setup_s": setup_s(raw),
        "batch_s": median([batch(r, "sort") for r in rounds]),
        "batch_nosort_s": median([batch(r, "nosort") for r in rounds]),
        "query_p50_s": median(samples),
    }
    detail = {"query_tail_s": tail_v, "peak_rss_mb": raw["peak_rss_mb"],
              "query_tail_percentile": tail_p, "query_samples": n,
              "query_tail_beyond": n - max(1, n - TAIL_BEYOND) if n else 0,
              "rounds": len(rounds)}
    return values, detail


def ingest_metrics(rounds):
    """The monthly loop's own figures, medians over the given rounds."""
    rounds = [r for r in rounds if r.get("ingest")]
    if not rounds:
        return {}
    last = _ops(rounds[-1], "load")
    return {
        "ingest.rows_per_s": median([
            sum(m["rows_offered"] for m in _ops(r, "load"))
            / r["ingest"]["loop_s"] for r in rounds]),
        "ingest.load_p50_s": median(
            [m["latency_s"] for r in rounds for m in _ops(r, "load")]),
        "ingest.readback_s": median(
            [r["ingest"]["readback_s"] for r in rounds]),
        "ingest.disk_bytes_per_row":
            rounds[-1]["ingest"]["bytes_after_compact"]
            / max(1, sum(m["rows_appended"] for m in last)),
    }


def per_layer(raw, cores):
    """Every per-layer metric of a traced run; layers a workload does not
    exercise read 0."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["sessions.start_s"] = raw["setup"]["start_s"]
    out["sessions.warmup_s"] = raw["setup"]["warmup_s"]
    out["copurchase.build_s"] = raw["setup"]["copurchase_s"]
    for k, v in raw.get("kernels", {}).items():
        out[f"functions.{k}"] = v
    traced, base = _rounds(raw, True), _rounds(raw, False)
    if not traced:
        return out
    tr = traced[0]
    spans = raw.get("spans", [])
    groups = raw.get("groups", {})
    by_id = {s["id"]: s for s in spans}
    root = next(s["id"] for s in spans if s["name"] == "round")
    top = [s for s in spans if s["parent"] == root]
    sort_names = {o["name"] for o in _ops(tr, "sort")}
    sorted_q = [s["id"] for s in top if s["name"] in sort_names]
    nosort_q = [s["id"] for s in top if s["name"].endswith("/nosort")]

    def under(ids, name=None):
        sub = [j for i in ids for j in [i] + descendants(spans, i)]
        return [j for j in sub if name is None or by_id[j]["name"] == name]

    def dur(ids):
        return sum(by_id[i]["end_s"] - by_id[i]["start_s"] for i in ids)

    def jobs(ids):
        return sum(groups.get(f"{raw['run_id']}:{i}", {}).get("jobs", 0)
                   for i in ids)

    construct = under(sorted_q, "entry.construct")
    out["entry.construct_s"] = dur(construct)
    out["entry.construct_jobs"] = jobs(construct)
    sort_ops = _ops(tr, "sort")
    for phase in ("analysis", "optimization", "planning"):
        out[f"plans.{phase}_s"] = sum(
            o.get("phases", {}).get(phase, 0.0) for o in sort_ops)
    ex = tr["exec"]
    out["exec.run_s"] = dur(under(sorted_q, "exec.run"))
    for key, name in (("jobs", "jobs"), ("stages", "stages"),
                      ("tasks", "tasks"), ("cpu_s", "executor_cpu_s"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("shuffle_read_bytes", "shuffle_read_bytes"),
                      ("fetch_wait_s", "shuffle_fetch_wait_s"),
                      ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s"),
                      ("peak_exec_mem_bytes", "peak_exec_mem_bytes"),
                      ("task_skew", "task_skew"),
                      ("failed_tasks", "failed_tasks")):
        out[f"exec.{name}"] = ex[key]
    out["exec.slot_busy_frac"] = ex["run_s"] / (tr["wall_s"] * cores)
    out["sort.extra_jobs"] = jobs(under(sorted_q)) - jobs(under(nosort_q))
    out["sort.overhead_s"] = batch(tr, "sort") - batch(tr, "nosort")
    out["cache.rdds_left"] = sum(o["rdds_left"] for o in sort_ops)
    out["cache.release_s"] = sum(o["release_s"] for o in sort_ops)
    ing, months = tr.get("ingest"), _ops(tr, "load")
    if ing:
        for stage in ("conform", "guard", "append", "raw_zone"):
            out[f"sink.{stage}_s"] = sum(m[f"{stage}_s"] for m in months)
        out["sink.compact_s"] = ing["compact_s"]
        offered = sum(m["rows_offered"] for m in months)
        appended = sum(m["rows_appended"] for m in months)
        out["sink.rows_offered"] = offered
        out["sink.rows_appended"] = appended
        out["sink.guard_keep_frac"] = appended / max(1, offered)
        out["sink.files_written"] = ing["files_written"]
        out["sink.bytes_written"] = ing["bytes_written"]
        out["sink.files_after_compact"] = ing["files_after_compact"]
        regular = [m for m in months if not m["redelivery"]]
        out["sink.guard_growth"] = \
            regular[-1]["guard_s"] / max(1e-9, regular[0]["guard_s"])
        out.update(ingest_metrics([tr]))
    for k, v in tr.get("streams", {}).items():
        out[f"streams.{k}"] = v
    if base and len(traced) > 1:
        # the queries-only pair that follows the first traced round: the
        # same queries, equally warm, untraced and then traced
        out["trace.overhead_s"] = batch(traced[1], "sort") \
            - batch(base[0], "sort")
    _, detail = end_to_end(raw)
    out["query.tail_s"] = detail["query_tail_s"]
    out["jvm.peak_rss_mb"] = detail["peak_rss_mb"]
    return out


def result_line(correct, attempted, failed, values, units):
    """The contract's last stdout line."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}})


def parse_result_line(text):
    """Parse the last line of a run's stdout back into its JSON object,
    checking the contract's shape."""
    line = text.strip().splitlines()[-1]
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} has keys {sorted(m)}")
        if not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name} is not a number")
    return obj
