#!/usr/bin/env python3
"""Self-test of the benchmark harness on the sf0.001 tables.

Runs the benchmark on a few small gates, with and without injected faults, and
checks that every metric is reported by name with its unit and that a gate
which throws and a gate with a wrong result each raise error_rate.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SMALL = os.path.join(HERE, "data", "sf0.001")
CLEAN = ["q06_count", "q05_filter_project", "q30_stream_window"]


def bench(gates, trace=0):
    """Runs the benchmark on `gates`; returns (full record, last line)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", "reference_sql", "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--data", SMALL, "--gates", ",".join(gates)],
        capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"benchmark failed: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class PerfbenchTest(unittest.TestCase):

    def check_units(self, metrics, expected):
        for name, unit in expected.items():
            self.assertIn(name, metrics)
            self.assertEqual(metrics[name]["unit"], unit, name)
            self.assertIsInstance(metrics[name]["value"], (int, float), name)

    def test_clean_run_reports_every_metric(self):
        full, last = bench(CLEAN)
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertEqual(set(last["metrics"]), set(run.END_TO_END))
        self.check_units(last["metrics"], run.END_TO_END)
        self.check_units(full["metrics"], {**run.END_TO_END, **run.RECORD_ONLY})
        self.assertEqual(full["metrics"]["error_rate"]["value"], 0.0)
        self.assertGreater(full["metrics"]["restart_s"]["value"], 0.0)
        for name in ("commit", "nproc", "master", "heap", "spark", "jdk",
                     "duckdb", "seed", "gates", "confs"):
            self.assertIn(name, full["provenance"])

    def test_throwing_gate_raises_error_rate(self):
        full, last = bench(["q06_count", run.THROWING])
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)
        self.assertGreater(full["metrics"]["error_rate"]["value"], 0.0)
        self.assertIn(run.THROWING, full["failures"]["threw"])

    def test_wrong_result_raises_error_rate_and_trace_has_every_layer(self):
        full, last = bench(["q06_count", run.WRONG], trace=1)
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)
        self.assertGreater(full["metrics"]["error_rate"]["value"], 0.0)
        self.assertEqual(full["failures"]["oracle_mismatch"], [run.WRONG])
        self.assertEqual(set(last["metrics"]), set(run.PER_LAYER))
        self.check_units(last["metrics"], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
