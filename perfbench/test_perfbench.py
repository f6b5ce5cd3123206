"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics
import tracediff

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_p90_needs_ten_samples_beyond_it(self):
        # 100 samples: p90 = 90, exactly 10 lie beyond it -> reported
        self.assertEqual(metrics.p90_or_none([float(i) for i in range(1, 101)]), 90.0)
        # 99 samples: p90 = 90, only 9 beyond -> omitted
        self.assertIsNone(metrics.p90_or_none([float(i) for i in range(1, 100)]))
        # ties at the top do not count as "beyond"
        self.assertIsNone(metrics.p90_or_none([1.0] * 50 + [2.0] * 200))
        self.assertIsNone(metrics.p90_or_none([]))


class Outcomes(unittest.TestCase):
    def ops(self, *outcomes):
        return [{"name": f"q{i}", "outcome": o} for i, o in enumerate(outcomes)]

    def test_thrown_and_refused_both_fail(self):
        ops = self.ops("ok", "failed: java.lang.RuntimeException: boom", "refused", "ok")
        self.assertEqual(metrics.count_outcomes(ops), (4, 2))

    def test_wrong_output_counts_as_failed(self):
        ops = self.ops("ok", "ok", "ok")
        self.assertEqual(metrics.count_outcomes(ops, wrong={"q1"}), (3, 1))
        # a wrong output that also threw is one failure, not two
        ops = self.ops("refused")
        self.assertEqual(metrics.count_outcomes(ops, wrong={"q0"}), (1, 1))

    def test_failed_ratio(self):
        def op(name, outcome, p, wall, cpu):
            return {"name": name, "outcome": outcome, "traced": False, "pass": p,
                    "wall_s": wall, "cpu_s": cpu}
        raw = {"ops": [op("a", "ok", 0, 1.0, 2.0), op("b", "refused", 0, 0.5, 1.0),
                       op("c", "ok", 1, 2.0, 3.0), op("d", "ok", 1, 3.0, 9.0),
                       op("a", "ok", 2, 1.0, 4.0)],
               "heap_peak_mb": 100.0, "final_state": {}}
        m = metrics.end_to_end(raw, 2.2, wrong={"c"})
        self.assertEqual(m["failed_ratio"]["value"], 0.4)
        # per-pass rates 2/1.5, 2/5, 1/1 -> median 1.0
        self.assertAlmostEqual(m["ops_per_s"]["value"], 1.0)
        self.assertEqual(m["op_p50_s"]["value"], 1.5)   # successful ops only
        # per-pass CPU per op 3/2, 12/2, 4/1 -> median 4.0
        self.assertEqual(m["cpu_s_per_op"]["value"], 4.0)
        self.assertAlmostEqual(m["setup_s"]["value"], 2.2)
        self.assertNotIn("op_p90_s", m)
        self.assertNotIn("state_mb", m)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, layer, s, e):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "start_s": s, "end_s": e, "attrs": {}}

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [self.span(0, -1, "op", 0.0, 10.0),
                 self.span(1, 0, "queries.build", 0.0, 4.0),
                 self.span(2, 0, "queries.action", 4.0, 9.0)]
        # two overlapping jobs under the action, one job under build
        jobs = [{"id": 1, "parent": 2, "start_s": 5.0, "end_s": 7.0},
                {"id": 2, "parent": 2, "start_s": 6.0, "end_s": 8.0},
                {"id": 3, "parent": 1, "start_s": 1.0, "end_s": 2.0}]
        st = metrics.self_times(spans, jobs)
        self.assertAlmostEqual(st["op"], 1.0)
        self.assertAlmostEqual(st["queries.build"], 3.0)
        self.assertAlmostEqual(st["queries.action"], 2.0)
        self.assertAlmostEqual(st["spark.job"], 5.0)
        # self times partition the root span's wall time (jobs overlap by 1 s)
        self.assertAlmostEqual(sum(st.values()) - 1.0, 10.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, "op", 0.0, 2.0)]
        jobs = [{"id": 1, "parent": 0, "start_s": 1.5, "end_s": 3.0}]
        self.assertAlmostEqual(metrics.self_times(spans, jobs)["op"], 1.5)


class TraceDiff(unittest.TestCase):
    def test_names_the_layer_that_moved_most(self):
        a = {"workload": "w", "self_s_per_op": {"op": 1.0, "spark.job": 2.0}}
        b = {"workload": "w", "self_s_per_op": {"op": 1.1, "spark.job": 1.0}}
        rows, top = tracediff.diff([a], [b])
        self.assertEqual(top["w"], ("spark.job", -1.0))
        self.assertEqual(len(rows), 2)


class Names(unittest.TestCase):
    def test_grammar(self):
        for ok in ("exec.task_run_s", "op_p50_s", "curation_sf0.1", "a-b"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "bad name", "x/y", "é", ".lead", "_lead"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_declared_names_follow_the_grammar(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        names = [w["name"] for w in spec["workloads"]] + \
            [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n) and len(n) <= 64, n)

    def test_reported_per_layer_names_match_the_declaration(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        raw = {"cpus": 4, "trace": {"spans": [], "jobs": [], "totals": {}},
               "ops": [], "passes": []}
        layers, _ = metrics.per_layer(raw)
        self.assertEqual(sorted(layers), sorted(m["name"] for m in spec["per_layer"]))


if __name__ == "__main__":
    unittest.main()
