"""Toy-size smoke test of every benchmark workload.

Run from the repository root:

    python3 perfbench/test_smoke.py

For each workload it checks that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and passes its output checks; that
a traced run prints every per-layer metric with its unit, that span self
times sum to no more than the run's wall time, and that shuffle bytes are
non-zero only for layers whose stages feed an exchange; and that a
planted wrong expectation raises the error rate and the exit code.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--toy", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


class Smoke(unittest.TestCase):
    def assert_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def check_workload(self, workload):
        code, result = run(workload)
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assert_metrics(result, SPEC["end_to_end"])
        for m in SPEC["end_to_end"]:
            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

        code, result = run(workload, 1)
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assert_metrics(result, SPEC["per_layer"])
        trace = json.loads((ROOT / ".bench_build" / "trace" / f"{workload}-7.json").read_text())
        self.assertTrue(trace["spans"])
        # span times are whole milliseconds; allow one of rounding per span
        self.assertLessEqual(sum(s["self_ms"] for s in trace["spans"]),
                             trace["wall_ms"] + len(trace["spans"]))
        self.assertTrue(trace["layers"])
        for name, layer in trace["layers"].items():
            if layer["shuffle_write_bytes"] > 0:
                self.assertGreater(layer["exchange_stages"], 0, name)

        code, result = run(workload, 0, "--plant-wrong-expectation")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"] / result["attempted"], 0)

    def test_crawl_wide(self):
        self.check_workload("crawl_wide")

    def test_ops_sweep(self):
        self.check_workload("ops_sweep")

    def test_spec_names_every_workload(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], ["crawl_wide", "ops_sweep"])


if __name__ == "__main__":
    unittest.main()
