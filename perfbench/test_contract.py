"""BENCHMARK.json names exactly the workloads and metrics run.py prints.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as f:
            self.bm = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bm["workloads"]], list(run.WORKLOADS))

    def test_metrics_and_units(self):
        for key, metrics in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in self.bm[key]], metrics, key)

    def test_setup_bound_is_the_largest(self):
        bounds = {m["name"]: m["bound"] for m in self.bm["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


if __name__ == "__main__":
    unittest.main()
