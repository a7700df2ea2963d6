#!/usr/bin/env python3
"""check.py fails on an output dir it was asked to check and cannot find.

Run: python3 scripts/test_check.py
"""
import json, os, subprocess, sys, tempfile, unittest

import duckdb

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = os.path.join(self.tmp.name, "out")
        self.sf = os.path.join(self.tmp.name, "sf")  # no tables: oracles read none
        os.makedirs(self.out)
        os.makedirs(self.sf)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x"}, f)
        self.write("q_a", 1)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, x):
        os.makedirs(os.path.join(self.out, name))
        duckdb.connect().execute(
            f"COPY (SELECT {x} AS x) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def check(self, *names):
        return subprocess.run([sys.executable, CHECK, self.out, self.sf, *names],
                              capture_output=True, text=True)

    def test_full_run_fails_on_an_oracled_query_without_output(self):
        r = self.check()
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("q_b", r.stdout.splitlines()[-1])

    def test_named_run_fails_on_a_name_without_output(self):
        r = self.check("q_a", "q_typo")
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("q_typo", r.stdout.splitlines()[-1])

    def test_every_expected_output_present_is_green(self):
        self.write("q_b", 2)
        self.assertEqual(self.check().returncode, 0)
        self.assertEqual(self.check("q_a").returncode, 0)


if __name__ == "__main__":
    unittest.main()
