"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout. The tiny-size runs take a few minutes
(one JVM each, sf0.001 tables and a small corpus); they exist so the
harness cannot rot between full benchmark runs.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(*args):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = r.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, last, r


class ContractTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
            run.END_TO_END)
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
            run.PER_LAYER)
        names = [w["name"] for w in spec["workloads"]]
        self.assertEqual(names, ["iter-sf0.01", "mr-lines"])
        self.assertLessEqual(set(names), set(run.WORKLOADS))
        self.assertEqual(spec["paths"], ["perfbench"])
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in spec["end_to_end"]))

    def test_pins_cover_every_query_at_both_sizes(self):
        pins = json.loads((HERE / "pins.json").read_text())
        self.assertEqual(set(pins["sf0.01"]), set(pins["sf0.001"]))
        self.assertEqual(len(pins["sf0.01"]), 20)


class ChecksTest(unittest.TestCase):
    def test_checks_reject_perturbed_outputs(self):
        rc, _, r = bench("--selftest")
        self.assertEqual(rc, 0, r.stdout + r.stderr[-3000:])
        cases = json.loads(r.stdout)["cases"]
        self.assertTrue(all(cases.values()), cases)

    def test_pin_mismatch_fails_the_run(self):
        pins = json.loads((HERE / "pins.json").read_text())
        name = "q01_pricing_summary"
        pins["sf0.001"][name]["rows"] += 1
        bad = ROOT / ".bench_build" / "perturbed-pins.json"
        bad.parent.mkdir(exist_ok=True)
        bad.write_text(json.dumps(pins))
        rc, last, r = bench("--workload", "olap-sf0.01", "--size", "tiny",
                            "--seconds", "1", "--seed", "5", "--trace", "0",
                            "--pins", str(bad))
        self.assertEqual(rc, 1, r.stdout[-2000:])
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)
        self.assertIn(name, r.stdout)


class TinyWorkloadsTest(unittest.TestCase):
    def check_run(self, workload, trace):
        rc, last, r = bench("--workload", workload, "--size", "tiny",
                            "--seconds", "1", "--seed", "7",
                            "--trace", str(trace))
        self.assertEqual(rc, 0, r.stdout[-2000:] + r.stderr[-3000:])
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        table = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(list(last["metrics"]), [n for n, _, _ in table])
        for n, u, _ in table:
            self.assertEqual(last["metrics"][n]["unit"], u)
            self.assertIsInstance(last["metrics"][n]["value"], (int, float))
        return last["metrics"]

    def test_olap_traced(self):
        m = self.check_run("olap-sf0.01", 1)
        self.assertEqual(m["mr.map_stage_s"]["value"], 0)
        self.assertEqual(m["streaming.batches"]["value"], 0)
        self.assertGreater(m["scheduler.jobs"]["value"], 0)

    def test_iter_traced(self):
        m = self.check_run("iter-sf0.01", 1)
        self.assertGreater(m["queries.construct_jobs"]["value"], 0)

    def test_mr_lines_traced(self):
        m = self.check_run("mr-lines", 1)
        self.assertGreater(m["mr.map_stage_s"]["value"], 0)
        self.assertGreater(m["streaming.batches"]["value"], 0)

    def test_mr_lines_end_to_end(self):
        m = self.check_run("mr-lines", 0)
        for n, _, _ in run.END_TO_END:
            self.assertGreater(m[n]["value"], 0, n)


if __name__ == "__main__":
    unittest.main()
