#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark at tiny scale.

    python3 -m unittest perfbench/tests/test_smoke.py     (from the repo root)

Runs every workload once untraced and once traced on tiny inputs, and
checks the result line against BENCHMARK.json: exactly the four keys, a
correct run with no failed operation, and every metric by name and unit.
query_surface needs a harness scale-factor directory (for example the
sf0.001 tables) in PERFBENCH_SURFACE_DIR and is skipped without one. A
copy holding only BENCHMARK.json and the benchmark must exit non-zero
without a result.
"""
import json
import os
import shutil
import subprocess
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra, cwd=ROOT):
    return subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "7",
                            "--seconds", "2", "--trace", str(trace),
                            "--tiny", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)


class Smoke(unittest.TestCase):

    def check(self, out, names_units):
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, names_units)
        return res

    def test_workloads(self):
        e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for w in (x["name"] for x in BENCH["workloads"]):
            with self.subTest(workload=w, trace=0):
                res = self.check(run(w, 0), e2e)
                for k, v in res["metrics"].items():
                    self.assertGreater(v["value"], 0, k)
            with self.subTest(workload=w, trace=1):
                self.check(run(w, 1), layers)

    @unittest.skipUnless(os.environ.get("PERFBENCH_SURFACE_DIR"),
                         "set PERFBENCH_SURFACE_DIR to a scale-factor directory")
    def test_query_surface(self):
        out = run("query_surface", 0, "--surface-dir",
                  os.environ["PERFBENCH_SURFACE_DIR"])
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"], res)
        self.assertGreater(res["metrics"]["surface_noop_s"]["value"], 0)

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in BENCH["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "project/project"))
            out = run(BENCH["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
