"""Smoke test of the benchmark: every workload at a tiny size.

    python3 perfbench/test_smoke.py        # from the repo root, ~4 minutes

Checks that
  * each workload runs, passes its output checks and prints exactly the
    end-to-end metrics BENCHMARK.json names (untraced) or exactly its
    per-layer metrics (traced);
  * a deliberately damaged output (a dropped `dt` partition of the
    steady sink, a deleted snapshot file, a wrong component label in the
    traced merge run's clustering probe) fails the check: the run reports
    correct=false and failed operations, and exits non-zero;
  * without the engine's sources the benchmark exits non-zero and prints
    no result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
LISTED = [w["name"] for w in BENCH["workloads"]]
# The output each workload's check guards, damaged by --corrupt, and
# whether the check runs only in the traced run.
CORRUPT = [("cdc_ingest_steady", "sink", 0), ("merge_restore", "snapshot", 0),
           ("merge_restore", "labels", 1)]


def run(workload, trace=0, corrupt=None, cwd=ROOT):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
    return p.returncode, result


class Smoke(unittest.TestCase):
    def check_names(self, result, listed):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in listed})
        units = {m["name"]: m["unit"] for m in listed}
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], units[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_untraced_metrics_and_checks(self):
        for w in LISTED:
            with self.subTest(workload=w):
                code, r = run(w)
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                self.check_names(r, BENCH["end_to_end"])

    def test_traced_metrics(self):
        for w in LISTED:
            with self.subTest(workload=w):
                code, r = run(w, trace=1)
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.check_names(r, BENCH["per_layer"])

    def test_corrupted_output_fails_its_check(self):
        self.assertEqual({w for w, _, _ in CORRUPT}, set(LISTED))
        for w, target, trace in CORRUPT:
            with self.subTest(workload=w, corrupt=target):
                code, r = run(w, trace=trace, corrupt=target)
                self.assertNotEqual(code, 0)
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)

    def test_fails_without_engine_sources(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        d = tempfile.mkdtemp(dir=scratch)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            code, r = run(LISTED[0], cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(r)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main(verbosity=2)
