#!/usr/bin/env python3
"""The benchmark's own fast test, at tiny input sizes.

    python3 perfbench/test_run.py

Checks that each workload prints every metric BENCHMARK.json names, with
its unit, traced and untraced; that a traced run writes its spans file;
that a wrong pinned count makes the run report a failure; and that the
benchmark refuses to run without the program's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RESULTS = os.path.join(ROOT, ".bench_work", "results-tiny")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace, seed=7, pins=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if pins:
        cmd += ["--pins", pins]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def setUpModule():
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)


class BenchmarkTest(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual({m["name"]: m["unit"] for m in wanted},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_metric_with_its_unit(self):
        s = spec()
        for w in (x["name"] for x in s["workloads"]):
            with self.subTest(workload=w, trace=0):
                r = run(w, 0)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.check_metrics(r, s["end_to_end"])
                for m in s["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w, trace=1):
                r = run(w, 1)
                self.assertTrue(r["correct"])
                self.check_metrics(r, s["per_layer"])
                spans = os.path.join(RESULTS, f"spans_{w}_seed7_trace1.json")
                with open(spans) as fh:
                    doc = json.load(fh)
                self.assertTrue(doc["spans"])
                self.assertIn("pass.steady", doc["self_time_ms"])

    def test_wrong_pin_is_reported(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
        try:
            pins = os.path.join(d, "pins.tsv")
            with open(pins, "w") as fh:
                fh.write("filter_job\ttiny\t7\tturns_in\t1\n")
            r = run("filter_job", 0, pins=pins)
            self.assertFalse(r["correct"])
            self.assertGreaterEqual(r["failed"], 1)
        finally:
            shutil.rmtree(d)

    def test_refuses_without_program_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "filter_job",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    unittest.main()
