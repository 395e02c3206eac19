"""Smoke test of the benchmark's output contract, on tiny inputs.

Run from the root of a checkout (takes a few minutes; the first run builds):

    python3 -m unittest perfbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

SPEC = json.load(open("BENCHMARK.json"))


def bench(*args, cwd="."):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--smoke", "1")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
            if not trace:
                self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])
        return out["metrics"]

    def test_every_workload_untraced_and_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                e2e = self.check(w["name"], 0)
                if w["name"] == "img_e2e":
                    self.assertGreaterEqual(e2e["recall"]["value"], 0.99)
                layers = self.check(w["name"], 1)
                self.assertGreater(layers["trace_overhead"]["value"], 0)

    def test_fails_without_the_program(self):
        bare = os.path.join(".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench("--workload", "img_e2e", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
