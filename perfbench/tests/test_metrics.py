"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start_s": start,
            "end_s": end, "run_id": "r"}


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_follows_sample_count(self):
        value, pct, n = metrics.tail([float(x) for x in range(40)])
        self.assertEqual((value, pct, n), (29.0, 75.0, 40))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 2)

    def test_too_few_samples_gives_lowest_rank(self):
        value, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, n), (1.0, 3))
        self.assertAlmostEqual(pct, 100 / 3)

    def test_empty(self):
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_duration(self):
        st = metrics.self_times([span(0, "a", -1, 1.0, 3.5)])
        self.assertAlmostEqual(st[0], 2.5)

    def test_children_are_subtracted(self):
        spans = [span(0, "q", -1, 0.0, 10.0),
                 span(1, "entry.construct", 0, 1.0, 3.0),
                 span(2, "exec.run", 0, 4.0, 9.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 5.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, "p", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 5.0),
                 span(2, "b", 0, 4.0, 6.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 5.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, "p", -1, 0.0, 10.0),
                 span(1, "c", 0, 2.0, 8.0),
                 span(2, "g", 1, 3.0, 7.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 4.0)

    def test_child_clipped_to_parent(self):
        spans = [span(0, "p", -1, 0.0, 4.0), span(1, "c", 0, 3.0, 6.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3.0)

    def test_by_name_sums(self):
        spans = [span(0, "p", -1, 0.0, 10.0),
                 span(1, "exec.run", 0, 0.0, 2.0),
                 span(2, "exec.run", 0, 5.0, 6.0)]
        by = metrics.self_time_by_name(spans)
        self.assertAlmostEqual(by["exec.run"], 3.0)
        self.assertAlmostEqual(by["p"], 7.0)

    def test_descendants(self):
        spans = [span(0, "p", -1, 0, 1), span(1, "c", 0, 0, 1),
                 span(2, "g", 1, 0, 1), span(3, "o", -1, 0, 1)]
        self.assertEqual(sorted(metrics.descendants(spans, 0)), [1, 2])


class ResultLineTest(unittest.TestCase):
    def test_round_trip(self):
        units = dict(metrics.END_TO_END)
        values = {k: 1.25 for k in units}
        line = metrics.result_line(True, 40, 0, values, units)
        obj = metrics.parse_result_line("perfbench header\n" + line + "\n")
        self.assertTrue(obj["correct"])
        self.assertEqual(obj["attempted"], 40)
        self.assertEqual(set(obj["metrics"]), set(units))
        self.assertEqual(obj["metrics"]["setup_s"],
                         {"value": 1.25, "unit": "s"})

    def test_rejects_extra_keys(self):
        with self.assertRaises(ValueError):
            metrics.parse_result_line(json.dumps(
                {"correct": True, "attempted": 1, "failed": 0,
                 "metrics": {}, "extra": 1}))

    def test_rejects_non_numeric_value(self):
        with self.assertRaises(ValueError):
            metrics.parse_result_line(json.dumps(
                {"correct": True, "attempted": 1, "failed": 0,
                 "metrics": {"x": {"value": "1", "unit": "s"}}}))

    def test_metric_names_are_unique_and_valid(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def raw_record():
    def op(name, mode, lat):
        return {"name": name, "mode": mode, "latency_s": lat, "error": None,
                "rdds_left": 1, "release_s": 0.01, "phases": {}}

    def rnd(a, b):
        return {"traced": False, "wall_s": 11.0,
                "ops": [op("a", "sort", a), op("a", "nosort", 0.5),
                        op("b", "sort", b), op("b", "nosort", 2.5)]}
    return {
        "run_id": "w-1", "peak_rss_mb": 900.0,
        "setup": {"jvm_boot_s": 0.5, "start_s": 2.0, "warmup_s": 2.0,
                  "copurchase_s": 0.25},
        "rounds": [rnd(1.0, 3.0), rnd(2.0, 4.0)]}


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the benchmark prints."""

    def setUp(self):
        path = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json beside the benchmark")
        self.spec = json.loads(path.read_text())

    def test_metric_sets_match(self):
        self.assertEqual(
            [(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
            metrics.END_TO_END)
        self.assertEqual(
            [(m["name"], m["unit"]) for m in self.spec["per_layer"]],
            metrics.PER_LAYER)

    def test_workloads_match(self):
        from workloads import WORKLOADS
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(WORKLOADS))

    def test_bounds(self):
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertGreater(m["bound"], 0)


class EndToEndTest(unittest.TestCase):
    def test_values(self):
        values, detail = metrics.end_to_end(raw_record())
        self.assertAlmostEqual(values["setup_s"], 4.75)
        self.assertAlmostEqual(values["batch_s"], 5.0)
        self.assertAlmostEqual(values["batch_nosort_s"], 3.0)
        self.assertAlmostEqual(values["query_p50_s"], 2.25)
        self.assertEqual(detail["query_tail_s"], 0.5)
        self.assertEqual(detail["query_samples"], 8)
        self.assertEqual(detail["rounds"], 2)

    def test_monthly_loop_counts_in_both_batches(self):
        raw = raw_record()
        for r in raw["rounds"]:
            r["ingest"] = {"loop_s": 10.0, "compact_s": 1.0,
                           "readback_s": 2.0}
        values, _ = metrics.end_to_end(raw)
        self.assertAlmostEqual(values["batch_s"], 18.0)
        self.assertAlmostEqual(values["batch_nosort_s"], 16.0)
        self.assertEqual(set(values), {n for n, _ in metrics.END_TO_END})


class PerLayerTest(unittest.TestCase):
    """A traced run: a traced round, then the overhead pair (the queries
    untraced, then traced)."""

    def raw(self):
        exec_ = {k: 0 for k in (
            "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
            "spill_bytes", "gc_s", "peak_exec_mem_bytes", "task_skew")}
        exec_["run_s"] = 8.0

        def op(mode, lat, phases=None):
            return {"name": "a", "mode": mode, "latency_s": lat,
                    "error": None, "rdds_left": 2, "release_s": 0.5,
                    "phases": phases or {}}

        def rnd(traced, sort_lat):
            r = {"traced": traced, "wall_s": 4.0,
                 "ops": [op("sort", sort_lat, {"planning": 0.25}),
                         op("nosort", 1.0)]}
            if traced:
                r["exec"] = exec_
            return r
        raw = raw_record()
        raw["rounds"] = [rnd(True, 3.0), rnd(False, 2.0), rnd(True, 2.5)]
        raw["spans"] = [span(0, "round", -1, 0.0, 4.0),
                        span(1, "a", 0, 0.0, 3.0),
                        span(2, "entry.construct", 1, 0.0, 1.0),
                        span(3, "a/nosort", 0, 3.0, 4.0)]
        raw["groups"] = {"w-1:1": {"jobs": 3}, "w-1:2": {"jobs": 1},
                         "w-1:3": {"jobs": 2}}
        return raw

    def test_values(self):
        out = metrics.per_layer(self.raw(), cores=4)
        self.assertEqual(set(out), {n for n, _ in metrics.PER_LAYER})
        self.assertAlmostEqual(out["sessions.start_s"], 2.0)
        self.assertAlmostEqual(out["copurchase.build_s"], 0.25)
        self.assertAlmostEqual(out["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(out["sort.overhead_s"], 2.0)
        self.assertEqual(out["sort.extra_jobs"], 2)
        self.assertEqual(out["entry.construct_jobs"], 1)
        self.assertAlmostEqual(out["entry.construct_s"], 1.0)
        self.assertAlmostEqual(out["plans.planning_s"], 0.25)
        self.assertAlmostEqual(out["exec.slot_busy_frac"], 0.5)
        self.assertEqual(out["cache.rdds_left"], 2)


if __name__ == "__main__":
    unittest.main()
