"""The metrics the runner prints are the ones BENCHMARK.json declares."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


@unittest.skipUnless(os.path.exists(SPEC), "BENCHMARK.json not beside perfbench/")
class MetricsMatchTheSpec(unittest.TestCase):
    def setUp(self):
        with open(SPEC) as f:
            self.spec = json.load(f)

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_end_to_end(self):
        res = {"ops": [["full:ae", 1.0], ["seg:ae", 2.0]], "passes": [3.0],
               "pass_cpu": [5.0], "peak_rss_mb": 100.0, "corpus_bytes": "10",
               "large_bytes": "5"}
        e2e, _ = run.end_to_end("dedup_ingest", res, 1.0, 2.0)
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in self.spec["end_to_end"]})

    def test_per_layer(self):
        self.assertEqual(run.LAYER_UNITS,
                         {m["name"]: m["unit"] for m in self.spec["per_layer"]})

    def test_pass_seconds_uses_each_operations_fastest_run(self):
        ops = [["a", 2.0], ["b", 1.0], ["a", 1.5], ["b", 3.0]]
        self.assertEqual(run.pass_seconds(ops, 2), 2.5)


if __name__ == "__main__":
    unittest.main()
