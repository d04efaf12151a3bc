"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests -v

`test_selftest` builds the benchmark (first run: about a minute) and runs
its JVM self-test: order statistics, generator determinism, the planted-
case bookkeeping, and agreement of the printed metric names and units
with BENCHMARK.json. The other tests check BENCHMARK.json itself.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SpecTest(unittest.TestCase):
    def test_keys(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})

    def test_names_and_units(self):
        names = [w["name"] for w in SPEC["workloads"]]
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_bounds(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in SPEC["end_to_end"])}])
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_paths_hold_the_benchmark(self):
        self.assertEqual(SPEC["paths"], ["perfbench"])
        self.assertTrue((ROOT / SPEC["command"][1]).is_file())
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)


class SelfTest(unittest.TestCase):
    def test_selftest(self):
        res = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--selftest"],
                             cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        last = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual(last["selftest"], "ok")


if __name__ == "__main__":
    unittest.main()
