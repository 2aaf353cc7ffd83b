"""BENCHMARK.json and run.py must name the same workloads and metrics."""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import run  # noqa: E402


class Contract(unittest.TestCase):
    def setUp(self):
        path = run.ROOT / "BENCHMARK.json"
        if not path.is_file():
            self.skipTest("no BENCHMARK.json beside perfbench/")
        self.spec = json.loads(path.read_text())

    def test_workloads(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))

    def test_metrics_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, run.PER_LAYER)

    def test_every_workload_query_is_pinned(self):
        pinned = run.load_pins(run.PINNED)["queries"]
        self.assertEqual(set(pinned), {q for qs in run.WORKLOADS.values() for q in qs})


if __name__ == "__main__":
    unittest.main()
