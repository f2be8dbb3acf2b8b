#!/usr/bin/env python3
"""The benchmark's own tests: BENCHMARK.json's shape, a tiny smoke run of
every workload, untraced and traced, that must pass its output check, and
a traced run of named queries (`--queries`) with its per-query table.

    python3 perfbench/test_bench.py          # from the repository root

The seeded-input tests are Scala: `cd perfbench && sbt test`.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class BenchmarkJson(unittest.TestCase):

    def test_keys_and_limits(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(s["paths"], ["perfbench"])
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        names = [m["name"] for m in s["workloads"] + s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))


class Smoke(unittest.TestCase):

    def run_bench(self, workload, trace, *extra):
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "0.1", "--trace", str(trace), "--smoke", *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        key = "per_layer" if trace else "end_to_end"
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec()[key]})
        self.stdout = p.stdout
        return res["metrics"]

    def test_workloads(self):
        for w in [w["name"] for w in spec()["workloads"]]:
            with self.subTest(workload=w):
                m = self.run_bench(w, 0)
                self.assertTrue(all(v["value"] > 0 for v in m.values()), m)

    def test_traced_workloads(self):
        for w in [w["name"] for w in spec()["workloads"]]:
            with self.subTest(workload=w):
                m = self.run_bench(w, 1)
                self.assertGreater(m["bench.traced_jobs_per_call"]["value"], 0)

    def test_named_queries(self):
        queries = ["q46_approx_quantiles", "t07_top_ngrams"]
        m = self.run_bench("query_mix", 1, "--queries", ",".join(queries))
        self.assertGreater(m["queries.relational.spark_jobs"]["value"], 0)
        self.assertGreater(m["queries.text.spark_jobs"]["value"], 0)
        table = self.stdout[self.stdout.index("per-query table"):]
        for q in queries:
            self.assertIn(q, table)


if __name__ == "__main__":
    unittest.main()
