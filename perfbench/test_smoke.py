"""The benchmark's own checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The oracle and argument checks take a second. The smoke test runs every
workload of BENCHMARK.json in `--smoke` mode, untraced and traced
(~1 min each after the first build), and checks that the result line
names exactly the metrics BENCHMARK.json lists, with their units. It also
runs the manual `job_joins` workload traced (~2 min).
"""
import datetime
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                          cwd=cwd, capture_output=True, text=True, timeout=1200)


class OracleCompare(unittest.TestCase):
    def test_exact_rows_in_any_order(self):
        self.assertTrue(oracle._same([[1, "a"], [2, "b"]], [(2, "b"), (1, "a")], set())[0])
        self.assertFalse(oracle._same([[1, "a"]], [(1, "b")], set())[0])
        self.assertFalse(oracle._same([[1]], [(1,), (1,)], set())[0])

    def test_rounded_float_may_differ_by_one_last_digit_unit(self):
        self.assertEqual(oracle._same([[2697140231.63]], [(2697140231.62,)], set()), (True, "", 1))
        self.assertFalse(oracle._same([[0.12]], [(0.14,)], set())[0])
        self.assertFalse(oracle._same([[5]], [(6,)], set())[0])

    def test_approx_column_tolerance(self):
        self.assertTrue(oracle._same([[10, 1003]], [(10, 1000)], {1})[0])
        self.assertFalse(oracle._same([[10, 1100]], [(10, 1000)], {1})[0])

    def test_tagged_values(self):
        ts = datetime.datetime(2024, 1, 1, 0, 0, 1, 5)
        self.assertTrue(oracle._same([[{"ts": "1704067201000005"}, {"date": "2024-01-01"}]],
                                     [(ts, datetime.date(2024, 1, 1))], set())[0])


class Contract(unittest.TestCase):
    def test_incomplete_checkout_fails_without_result(self):
        iso = os.path.join(ROOT, ".bench_build", "perfbench", "isolated")
        shutil.rmtree(iso, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(iso, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), iso)
        r = run(["--workload", "headline", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=iso)
        shutil.rmtree(iso, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


class Smoke(unittest.TestCase):
    def test_every_metric_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in bench["workloads"]:
            for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--smoke"])
                    self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                    out = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"], r.stdout)
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                                     {m["name"]: m["unit"] for m in wanted})
                    for v in out["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))

    def test_manual_job_joins_runs_and_analyzes(self):
        # job_joins is not in BENCHMARK.json (its runs do not fit the run
        # budget); this keeps it and its ANALYZE set-up path working
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        r = run(["--workload", "job_joins", "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke"])
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        out, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
        self.assertTrue(out["correct"], r.stdout)
        self.assertEqual(out["failed"], 0)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in bench["per_layer"]})
        self.assertGreater(report["unlisted_layers"]["sources.analyze_ms"], 0)
        self.assertGreater(out["metrics"]["scan.input_bytes"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
