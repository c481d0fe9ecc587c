#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/test_perfbench.py

Runs the benchmark for one second per case (the harness still does its
minimum number of runs) and checks that:
  * a wrong expected value is caught: failed > 0, correct is false and the
    labels line reports failed_frac > 0, on a DQ workload and on
    curation_topk;
  * an unmodified run passes with failed == 0 and prints every end-to-end
    metric of BENCHMARK.json, and a traced run every per-layer metric;
  * without the library sources next to perfbench/ the harness exits
    non-zero and prints no result.
The first case builds the library if needed (a few minutes).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload, *extra, cwd=ROOT, trace=0):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=1200)


def parse(proc):
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    labels = json.loads(next(ln for ln in lines if ln.startswith("perfbench labels "))
                        .split(" ", 2)[2])
    return result, labels


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class PerfbenchTest(unittest.TestCase):
    def assert_caught(self, workload):
        proc = bench(workload, "--inject-wrong-expected")
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        result, labels = parse(proc)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(labels["failed_frac"], 0.0)

    def test_wrong_expected_is_caught_dq(self):
        self.assert_caught("dq_wide_eval")

    def test_wrong_expected_is_caught_curation(self):
        self.assert_caught("curation_topk")

    def test_clean_run_passes_with_every_metric(self):
        proc = bench("dq_gate_write")
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        result, labels = parse(proc)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(labels["failed_frac"], 0.0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()["end_to_end"]})
        for m in spec()["end_to_end"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(result["metrics"][m["name"]]["value"], 0)

    def test_traced_run_reports_every_layer(self):
        proc = bench("curation_topk", trace=1)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        result, _ = parse(proc)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()["per_layer"]})
        for m in spec()["per_layer"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_refuses_without_library_sources(self):
        bare = os.path.join(HERE, ".scratch", f"bare-{os.getpid()}")
        try:
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".scratch", ".bsp"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            proc = bench("dq_gate_write", cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertFalse(proc.stdout.strip())
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
