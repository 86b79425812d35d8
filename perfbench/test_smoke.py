#!/usr/bin/env python3
"""Smoke tests of the benchmark: every workload's code path and output
check at sf0.001, the metric names against BENCHMARK.json, and the refusal
to run without the engine's sources.

  python3 -m unittest perfbench/test_smoke.py     (from the checkout root)
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        p = run("--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        notes = json.loads(p.stdout.strip().splitlines()[-2])["annotations"]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], notes["failed_jobs"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in self.bench[kind]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        for name, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), name)

    def test_query_mix(self):
        self.check("query_mix", 0)

    def test_traced_query_mix(self):
        self.check("query_mix", 1)

    def test_ingest_refresh(self):
        self.check("ingest_refresh", 0)

    def test_traced_ingest_refresh(self):
        self.check("ingest_refresh", 1)

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run("--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
