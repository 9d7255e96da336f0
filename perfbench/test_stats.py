"""Self-tests for the benchmark's own statistics and output handling.

    python3 perfbench/run.py --selftest

No Spark: the reductions are checked on small hand-made run records.
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5.0], 50), 5.0)


class SelfTime(unittest.TestCase):
    def span(self, id, parent, start, end, name="s"):
        return {"id": id, "parent": parent, "op": 1, "name": name,
                "start": start, "end": end}

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_time_subtracts_covered_interval_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60), self.span(4, 2, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)   # children cover 10..60
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([self.span(1, 0, 0, 10),
                               self.span(2, 1, 5, 50)])
        self.assertEqual(st[1], 5)

    def test_span_tree_nests_by_parent(self):
        tree = stats.span_tree([self.span(1, 0, 0, 10, "op"),
                                self.span(2, 1, 1, 4, "step")])
        self.assertEqual(len(tree), 1)
        self.assertEqual(tree[0]["children"][0]["name"], "step")
        self.assertEqual(tree[0]["self_ms"], 7)


    def test_jobs_nest_in_the_step_that_contains_them(self):
        spans = [self.span(1, 0, 0, 100, "offload"),
                 self.span(2, 1, 10, 50, "step.stage_and_load"),
                 self.span(3, 1, 20, 30, "job"),
                 self.span(4, 1, 60, 70, "job")]
        parents = {s["id"]: s["parent"] for s in stats.nest_in_steps(spans)}
        self.assertEqual(parents, {1: 0, 2: 1, 3: 2, 4: 1})


def record(ops, checks=()):
    """A run record."""
    return {"workload": "offload_full", "setup_reps_s": [3.0, 1.0, 2.0],
            "ops": ops, "checks": list(checks), "spans": [], "counters": [],
            "facts": {}, "jvm_heap_peak_mb": 1.0, "jvm_gc_ms": 0.0,
            "artifact_queries": []}


def op(id, pass_, kind, start, end, ok=True, traced=False, name="x"):
    return {"id": id, "pass": pass_, "kind": kind, "name": name,
            "start": start, "end": end, "ok": ok, "traced": traced, "err": ""}


class Reduction(unittest.TestCase):
    def test_setup_and_warmup_passes_are_excluded_and_pass_sums_ops(self):
        rec = record([op(1, 0, "offload", 0, 9000),
                      op(2, -1, "offload", 0, 7000),
                      op(3, 1, "offload", 0, 1000),
                      op(4, 1, "meta_load", 1000, 1500),
                      op(5, 2, "offload", 0, 3000)])
        m = run.end_to_end(rec, "offload")
        self.assertEqual(m["setup_s"], (2.0, "s", 3))
        self.assertEqual(m["op_p50_s"], (2.0, "s", 2))
        self.assertEqual(m["pass_s"], (2.25, "s", 2))

    def test_traced_passes_stay_out_of_untraced_figures(self):
        rec = record([op(1, 1, "offload", 0, 1000),
                      op(2, 2, "offload", 0, 5000, traced=True),
                      op(3, 3, "offload", 0, 1200)])
        self.assertEqual(run.end_to_end(rec, "offload")["op_p50_s"],
                         (1.1, "s", 2))
        self.assertEqual(run.end_to_end(rec, "offload", True)["pass_s"],
                         (5.0, "s", 1))

    def test_artifact_builds_come_from_setup_and_hits_from_timed_runs(self):
        rec = record([op(1, 0, "query", 0, 900, name="b"),
                      op(2, 0, "query", 0, 50, name="other"),
                      op(3, 0, "query", 0, 500, name="b"),
                      op(4, 0, "query", 0, 700, name="b"),
                      op(5, 1, "query", 0, 30, name="b"),
                      op(6, 2, "query", 0, 99, name="b", traced=True),
                      op(7, 3, "query", 0, 10, name="b")])
        rec["workload"] = "query_warm"
        rec["artifact_queries"] = ["b"]
        layer, _ = run.per_layer(rec, "query")
        self.assertEqual(layer["artifact.build_ms"], (700, "ms"))
        self.assertEqual(layer["artifact.hit_ms"], (20.0, "ms"))

    def test_failures_count_failed_checks_and_secondary_ops(self):
        rec = record([op(1, 1, "offload", 0, 1), op(2, 1, "meta_load", 1, 2,
                                                     ok=False),
                      op(3, 2, "offload", 0, 1)],
                     checks=[{"pass": 2, "op": 0, "what": "w", "ok": False,
                              "detail": ""}])
        self.assertEqual(run.outcome(rec, "offload"), (2, 2))

    def test_result_line_round_trip(self):
        line = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                           "metrics": {"op_p50_s": {"value": 1.25,
                                                    "unit": "s"}}})
        obj = stats.parse_result_line("setup_s 1 s n=3\n" + line + "\n")
        self.assertEqual(obj["metrics"]["op_p50_s"]["value"], 1.25)

    def test_result_line_rejects_extra_keys_and_bad_counts(self):
        with self.assertRaises(ValueError):
            stats.parse_result_line(json.dumps(
                {"correct": True, "attempted": 1, "failed": 0, "metrics": {},
                 "extra": 1}))
        with self.assertRaises(ValueError):
            stats.parse_result_line(json.dumps(
                {"correct": True, "attempted": 0, "failed": 0,
                 "metrics": {}}))


class MatchesBenchmarkJson(unittest.TestCase):
    """The reductions print exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            self.bench = json.load(f)

    def test_end_to_end_names_and_units(self):
        rec = record([op(1, 1, "offload", 0, 1000)])
        got = {k: u for k, (_, u, _) in run.end_to_end(rec, "offload").items()}
        self.assertEqual(got, {m["name"]: m["unit"]
                               for m in self.bench["end_to_end"]})

    def test_per_layer_names_and_units(self):
        rec = record([op(1, 1, "offload", 0, 1000, traced=True),
                      op(2, 2, "offload", 0, 900)])
        rec["workload"] = "offload_full"
        rec["facts"] = {"source_bytes": 10.0, "rows_landed_per_op": 5.0}
        layer, _ = run.per_layer(rec, "offload")
        self.assertEqual({k: u for k, (_, u) in layer.items()},
                         {m["name"]: m["unit"]
                          for m in self.bench["per_layer"]})

    def test_workloads_are_runnable(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
