"""The benchmark's own tests:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import importlib.util
import json
import os
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
_spec = importlib.util.spec_from_file_location("run", os.path.join(HERE, "run.py"))
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)
gen, spans = run.gen, run.spans
import oracle  # noqa: E402  (run.py put perfbench/ on sys.path)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_metric_names_and_units_match(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]},
                         run.PER_LAYER)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]],
                         list(run.WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.b["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(spans.self_time(1.0, 4.0, []), 3.0)

    def test_disjoint_children(self):
        self.assertAlmostEqual(spans.self_time(0.0, 10.0, [(1, 2), (5, 8)]), 6.0)

    def test_overlapping_children_count_once(self):
        # a job running inside the build phase covers no extra time
        self.assertAlmostEqual(
            spans.self_time(0.0, 10.0, [(0, 4), (2, 3), (3, 6)]), 4.0)

    def test_children_clipped_to_the_span(self):
        self.assertAlmostEqual(spans.self_time(2.0, 6.0, [(0, 3), (5, 9)]), 2.0)
        self.assertAlmostEqual(spans.self_time(2.0, 6.0, [(7, 9)]), 4.0)

    def test_span_tree(self):
        q = {"name": "q", "family": "F", "start": 0.0, "built": 1.0,
             "planned": 1.5, "end": 4.0}
        result = {"epoch_ms0": 1000, "passes": [
            {"idx": 1, "kind": "first", "start": 0.0, "end": 5.0,
             "queries": [q]}],
            "jobs": [{"id": 7, "group": "1/q/build", "start_ms": 1500,
                      "end_ms": 1800}]}
        tree = {s["kind"]: s for s in spans.span_tree("w", result)}
        self.assertAlmostEqual(tree["pass"]["self_s"], 1.0)
        self.assertAlmostEqual(tree["query"]["self_s"], 0.0)
        self.assertEqual(tree["job"]["parent"], tree["query"]["id"])
        self.assertEqual(tree["build"]["parent"], tree["query"]["id"])


class SteadyTimesTest(unittest.TestCase):
    def test_pass_median_and_query_geomean(self):
        def p(a, b):
            return {"queries": [{"name": "a", "start": 0.0, "end": a},
                                {"name": "b", "start": 0.0, "end": b}]}
        t = spans.steady_times([p(1.0, 4.0), p(1.0, 16.0), p(9.0, 4.0)])
        self.assertAlmostEqual(t["pass_s"], 13.0)
        self.assertAlmostEqual(t["query_geomean_s"], 2.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digests(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            d1 = gen.digests(gen.ensure(a, 0.001, 7))
            d2 = gen.digests(gen.ensure(b, 0.001, 7))
            d3 = gen.digests(gen.ensure(b, 0.001, 8))
        self.assertEqual(d1, d2)
        self.assertEqual(sorted(d1), sorted(oracle.TABLES))
        self.assertNotEqual(d1["lineitem"], d3["lineitem"])


class CompareTest(unittest.TestCase):
    def test_rules(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, 1.0]})
        self.assertIsNone(oracle.compare("q", a, pd.DataFrame({"v": [1.0, 0.3], "k": [1, 2]})))
        self.assertIn("CELLS", oracle.compare("q", a, pd.DataFrame({"k": [1, 2], "v": [1.0, 0.31]})))
        self.assertIn("ROWS", oracle.compare("q", a, a.head(1)))
        self.assertIn("SCHEMA", oracle.compare("q", a, a.rename(columns={"v": "w"})))


if __name__ == "__main__":
    unittest.main()
