#!/usr/bin/env python3
"""The benchmark's own test. Run from the repository root:

    python3 perfbench/test_perfbench.py

Each workload runs at toy size, untraced and traced; every metric that
BENCHMARK.json declares must be printed with its unit and the outputs must
check out. One seed must regenerate identical inputs (queries, batches,
registry order) and another seed must change them. Takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class ToyRuns(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        for w in WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    rc, out, err = bench("--workload", w, "--seed", "7", "--seconds", "1",
                                         "--trace", str(trace), "--toy")
                    self.assertEqual(rc, 0, out[-3000:] + err[-3000:])
                    last = json.loads(out.strip().splitlines()[-1])
                    self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(last["correct"], out[-3000:])
                    self.assertEqual(last["failed"], 0)
                    self.assertGreaterEqual(last["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[kind]}
                    got = {k: v["unit"] for k, v in last["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in last["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if kind == "end_to_end":
                        for k, v in last["metrics"].items():
                            self.assertGreater(v["value"], 0, k)
                        for line in ("config master = local[4]",
                                     "config spark.sql.shuffle.partitions = 4",
                                     "config spark.sql.adaptive.enabled",
                                     "config driver_heap_max_mb", "config seed = 7"):
                            self.assertIn(line, out)


class SeededInputs(unittest.TestCase):
    def inputs(self, w, seed):
        rc, out, err = bench("--workload", w, "--seed", str(seed), "--seconds", "1",
                             "--print-inputs")
        self.assertEqual(rc, 0, err[-2000:])
        return json.loads(out.strip().splitlines()[-1])

    def test_one_seed_regenerates_its_inputs_and_another_changes_them(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = self.inputs(w, 11), self.inputs(w, 11), self.inputs(w, 12)
                self.assertEqual(a, b)
                self.assertEqual(a["data"], c["data"])  # the set-up is fixed
                self.assertNotEqual(a["requests"], c["requests"])


class EmptyCheckout(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        import shutil
        import tempfile
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".work", ".out", "target"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
