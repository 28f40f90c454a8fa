#!/usr/bin/env python3
"""Self-test of the graft benchmark.

    python3 graftbench/selftest.py

Runs every workload once untraced and once traced on a tiny input (the size
of the sf0.001 test corpus), and checks that each run is correct, emits
every metric BENCHMARK.json names with its unit, keeps every output column
in the optimized plan of the noop action, and (traced) writes a span file
from which self time per layer can be computed. Also checks that
BENCHMARK.json matches spec.py, and that the benchmark fails without
printing a result in a directory that holds only the benchmark.
Uses its own scratch space, graftbench/.work/selftest.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402
import spans  # noqa: E402
import spec  # noqa: E402

# sf0.001-sized: 500 documents and 500 embeddings over four replicas
TINY = {"twin": {"sizes": (125, 125), "replicas": 4},
        "warm": {"sizes": (100, 100), "replicas": 1}}


class BenchmarkSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.WORK = os.path.join(run.WORK, "selftest")
        shutil.rmtree(run.WORK, ignore_errors=True)
        spec.INPUTS.update(TINY)

    def test_benchmark_json_matches_spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.assertEqual(json.load(fh), spec.benchmark_json())

    def test_every_workload_emits_every_metric(self):
        for wl, w in spec.WORKLOADS.items():
            for trace, names in ((0, spec.END_TO_END), (1, spec.PER_LAYER)):
                with self.subTest(workload=wl, trace=trace):
                    record, result = run.run(wl, seed=1, seconds=1, trace=trace)
                    self.assertTrue(result["correct"], record["failures"])
                    self.assertGreaterEqual(result["attempted"], len(w["queries"]))
                    self.assertEqual(set(result["metrics"]), set(names))
                    for name, m in result["metrics"].items():
                        self.assertEqual(m["unit"], names[name][0], name)
                        self.assertIsInstance(m["value"], (int, float), name)
                    self.assertEqual(set(record["columns_kept"]), set(w["queries"]))
                    self.assertTrue(all(record["columns_kept"].values()),
                                    record["columns_kept"])
                    if trace:
                        self_s = spans.self_times(
                            os.path.join(run.WORK, f"spans-{wl}-1.jsonl"))
                        for kind in ("run", "setup", "pass", "query", "build", "action",
                                     "job", "stage"):
                            self.assertIn(kind, self_s)
                            self.assertGreaterEqual(self_s[kind][0], 0.0, kind)

    def test_fails_without_the_program(self):
        bare = os.path.join(run.WORK, "bare")
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns(".work", "target", ".bsp"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(spec.COMMAND + ["--workload", "crawl_refresh", "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
