#!/usr/bin/env python3
"""The benchmark's own tests, on the smoke size (replication 1, the query
suite's first query per family, sf0.001): every workload end to end, the
traced run's per-layer metrics, per-seed determinism of the registry
stores, and the refusal to run outside a graft checkout.

    python3 graftbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, seed=1, trace=0, cwd=ROOT, size="smoke"):
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", size],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    return p.returncode, p.stdout, p.stderr


class SmokeTest(unittest.TestCase):

    def assertResult(self, workload, trace=0, seed=1):
        rc, out, err = run(workload, seed=seed, trace=trace)
        self.assertEqual(rc, 0, err[-3000:])
        r = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
            if not trace:
                self.assertGreater(r["metrics"][m["name"]]["value"], 0)
        return r

    def test_registry_sync_twice_with_one_seed(self):
        # the second run must reproduce the first run's store digests
        self.assertResult("registry_sync", seed=1)
        self.assertResult("registry_sync", seed=1)

    def test_registry_resync(self):
        self.assertResult("registry_resync")

    def test_query_suite(self):
        self.assertResult("query_suite")

    def test_traced_runs_report_every_layer(self):
        r = self.assertResult("registry_sync", trace=1)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertGreater(m["providers.rows_out"], 0)
        self.assertEqual(m["sinks.gate_pass_ratio"], 1.0)
        self.assertHarnessShare(m)
        r = self.assertResult("query_suite", trace=1)
        self.assertHarnessShare({k: v["value"] for k, v in r["metrics"].items()})

    def assertHarnessShare(self, m):
        # the layer spans cover the wall: what the harness itself spends
        # between them stays a small share of it
        self.assertGreater(m["trace.wall_s"], 0)
        self.assertLess(m["trace.harness_s"], 0.02 * m["trace.wall_s"])

    def test_refuses_to_run_without_the_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("target"))
        try:
            rc, out, _ = run("registry_sync", cwd=bare, size="full")
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(rc, 0)
        self.assertEqual(out.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
