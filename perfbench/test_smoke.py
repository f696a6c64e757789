#!/usr/bin/env python3
"""Smoke test of the benchmark on tiny inputs (sf0.001-shaped tables, an
8-file corpus, 50-op stream batches). Runs every workload traced, which
checks every output and exercises every per-layer metric and the two
reconciliations, one workload untraced, and a negative control per kind of
check. Takes two to three minutes on 4 cores.

    python3 perfbench/test_smoke.py
"""
import json
import pathlib
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# stream_upsert is not among BENCHMARK.json's workloads (its run-to-run
# spread is wider than the bounds, see README.md), but it still runs
# through the same command and must pass every check.
WORKLOADS = ("mr_corpus", "query_mix", "stream_upsert")

# The traced run's accounting must close: construction + action + drain +
# memo eviction against the pass wall time, and the listener's task spans
# (task run + task overhead) plus the idle core time sampled from the task
# scheduler against wall x cores.
TOLERANCE = 0.05


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "smoke",
           "--corrupt", "1" if corrupt else "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


class Smoke(unittest.TestCase):
    def test_traced_runs_are_correct_and_reconcile(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, err = run(w, 1)
                self.assertTrue(res["correct"], err)
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)
                self.assertEqual(list(res["metrics"]), names)
                m = {k: v["value"] for k, v in res["metrics"].items()}
                self.assertLessEqual(m["trace.wall_gap"], TOLERANCE)
                self.assertLessEqual(m["trace.core_gap"], TOLERANCE)
                self.assertGreater(m["sched.jobs"], 0)
                self.assertGreater(m["exec.task_run_s"], 0)

    def test_untraced_run_reports_every_end_to_end_metric(self):
        res, err = run("mr_corpus", 0)
        self.assertTrue(res["correct"], err)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in SPEC["end_to_end"]])
        for name, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, name)

    def test_corrupted_expectation_is_a_failure(self):
        # one falsified expectation per kind of check: generator counts,
        # stored query fingerprints, the driver-side fold of the KV ops
        for workload in WORKLOADS:
            with self.subTest(workload=workload):
                res, _ = run(workload, 0, corrupt=True)
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main(verbosity=2)
