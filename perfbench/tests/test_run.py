"""Self-tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests -v

The last two tests start the harness JVM (building it first if needed) and
take about a minute each; the rest are instant.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import run  # noqa: E402


def execution(name, build=0.5, final=1.0, error=None, layers=None, cpu=1.5, heap=100.0):
    return {"name": name, "build_s": build, "final_s": final, "cpu_s": cpu, "heap_mb": heap,
            "error": error, "layers": layers or {}}


def raw_result(digests, passes):
    return {"env": {}, "session_ready_ms": 1000, "setup_end_ms": 5000,
            "digests": digests, "passes": passes}


DIGESTS = {"q_a": {"rows": 3, "hash": "17"}, "q_b": {"rows": 0, "hash": "0"}}
PINNED = {"cores": [4], "queries": DIGESTS}


class IntervalUnion(unittest.TestCase):
    def test_cases(self):
        self.assertEqual(run.interval_union([]), 0)
        self.assertEqual(run.interval_union([[0, 10]]), 10)
        self.assertEqual(run.interval_union([[0, 10], [20, 25]]), 15)   # disjoint
        self.assertEqual(run.interval_union([[0, 10], [5, 15]]), 15)    # overlapping
        self.assertEqual(run.interval_union([[0, 30], [5, 15]]), 30)    # nested
        self.assertEqual(run.interval_union([[0, 10], [10, 20]]), 20)   # touching
        self.assertEqual(run.interval_union([[40, 50], [0, 10], [5, 12]]), 22)  # unsorted


class Median(unittest.TestCase):
    def test_cases(self):
        self.assertEqual(run.median([3.0]), 3.0)
        self.assertEqual(run.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(run.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            run.median([])


class StealShare(unittest.TestCase):
    def test_cases(self):
        self.assertEqual(run.steal_share((100, 10), (200, 30)), 0.2)
        self.assertIsNone(run.steal_share(None, (200, 30)))
        self.assertIsNone(run.steal_share((100, 10), (100, 10)))
        busy, steal = run.cpu_times()
        self.assertGreaterEqual(busy, steal)


class OutputCheck(unittest.TestCase):
    def score(self, digests, pinned, errors=()):
        passes = [{"traced": False,
                   "queries": [execution("q_a", error="boom" if "q_a" in errors else None),
                               execution("q_b", final=2.5, heap=300.0)]},
                  {"traced": False,
                   "queries": [execution("q_b", final=1.5), execution("q_a", final=2.0)]}]
        result, bad, failed = run.score(raw_result(digests, passes), 1.0, pinned, trace=False)
        return result, bad, failed

    def test_matching_digests_pass(self):
        result, bad, _ = self.score(dict(DIGESTS), PINNED)
        self.assertEqual((result["correct"], result["failed"], result["attempted"]), (True, 0, 6))
        self.assertEqual(bad, [])

    def test_tampered_pin_counts_as_failure(self):
        tampered = dict(PINNED, queries=dict(DIGESTS, q_a={"rows": 3, "hash": "18"}))
        result, bad, _ = self.score(dict(DIGESTS), tampered)
        self.assertFalse(result["correct"])
        self.assertEqual(bad, ["q_a"])
        self.assertEqual(result["failed"] / result["attempted"], 1 / 6)

    def test_row_count_missing_pin_and_errors_fail(self):
        self.assertEqual(run.digest_failures({"q_a": {"rows": 4, "hash": "17"}}, PINNED), ["q_a"])
        self.assertEqual(run.digest_failures({"q_c": {"rows": 1, "hash": "1"}}, PINNED), ["q_c"])
        self.assertEqual(run.digest_failures({"q_b": {"error": "x"}}, PINNED), ["q_b"])
        result, _, failed = self.score(dict(DIGESTS), PINNED, errors={"q_a"})
        self.assertEqual((result["failed"], [q["name"] for q in failed]), (1, ["q_a"]))

    def test_end_to_end_metrics(self):
        result, _, _ = self.score(dict(DIGESTS), PINNED)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertEqual(m["setup_s"], 4.0)
        # passes take 4.5 s and 4.5 s; executions take 1.5, 3.0, 2.0 and 2.5 s
        self.assertEqual((m["pass_s"], m["query_p50_s"], m["cpu_s"]), (4.5, 2.25, 3.0))
        self.assertEqual(m["heap_peak_mb"], 200.0)


class RecordPins(unittest.TestCase):
    def test_core_counts(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = Path(tmp) / "digests.json"
            run.record_pins(path, DIGESTS, 4)
            self.assertEqual(run.load_pins(path), PINNED)
            run.record_pins(path, {"q_a": DIGESTS["q_a"]}, 2)      # agrees: 2 joins
            self.assertEqual(run.load_pins(path), dict(PINNED, cores=[2, 4]))
            run.record_pins(path, {"q_b": {"rows": 1, "hash": "5"}}, 8)  # differs
            pins = run.load_pins(path)
            self.assertEqual((pins["cores"], pins["queries"]["q_b"]["rows"]), ([8], 1))
            with self.assertRaises(run.BenchError):
                run.record_pins(path, {"q_a": {"error": "boom"}}, 4)


class Layers(unittest.TestCase):
    def layers(self, spans, task_run_s=3.0):
        lay = {k: 1.0 for k in run.SUMMED.values()}
        lay.update(stage_spans=spans, task_run_s=task_run_s, cached_mb_peak=2.0,
                   input_mb=4.0, output_mb=1.0)
        return lay

    def test_pass_totals(self):
        p = {"queries": [execution("q_a", 0.5, 1.0, layers=self.layers([[0, 500], [250, 1000]])),
                         execution("q_b", 0.25, 0.25, layers=self.layers([[0, 250]], 0.5))]}
        t = run.pass_layers(p)
        self.assertEqual(t["exec.stage_busy_s"], 1.25)
        self.assertEqual(t["exec.driver_gap_s"], 2.0 - 1.25)
        self.assertEqual(t["exec.parallelism"], 3.5 / 1.25)
        self.assertEqual(t["SparkEntry.build_s"], 0.75)
        self.assertEqual(t["sources.write_amp"], 0.25)
        self.assertEqual(t["core.cached_mb_peak"], 2.0)
        self.assertEqual(t["exec.jobs"], 2.0)

    def test_traced_result_reports_every_layer(self):
        passes = [{"traced": traced,
                   "queries": [execution("q_a", 0.5, final, layers=self.layers([[0, 1000]]))]}
                  for traced, final in ((False, 9.0), (True, 1.7), (False, 1.5), (False, 1.5),
                                        (True, 1.9))]
        result, _, _ = run.score(raw_result({"q_a": DIGESTS["q_a"]}, passes), 0.0, PINNED,
                                 trace=True)
        self.assertEqual(set(result["metrics"]), set(run.PER_LAYER))
        self.assertAlmostEqual(result["metrics"]["trace.overhead"]["value"], 1.15)


class Harness(unittest.TestCase):
    """Runs against the built harness JVM."""

    def test_digest_is_row_order_independent(self):
        cp = run.ensure_built(run.ROOT)
        cmd = run.java_command(cp, "2g", ["--selftest", "1"])
        out = subprocess.run(cmd, cwd=run.BUILD, capture_output=True, text=True, timeout=170)
        checks = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(out.returncode, 0, checks)
        self.assertTrue(all(checks.values()), checks)

    def test_tampered_pinned_digest_fails_the_run(self):
        pinned = json.loads(run.PINNED.read_text())
        query = run.WORKLOADS["text_dedup"][0]
        pinned["queries"][query] = dict(pinned["queries"][query], hash="1")
        with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
            bad = Path(tmp) / "digests.json"
            bad.write_text(json.dumps(pinned))
            out = subprocess.run(
                [sys.executable, str(run.HERE / "run.py"), "--workload", "text_dedup",
                 "--seed", "1", "--seconds", "1", "--trace", "0", "--pinned", str(bad)],
                capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertIn(f"output check failed: {query}", out.stderr)


if __name__ == "__main__":
    unittest.main()
