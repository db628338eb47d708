#!/usr/bin/env python3
"""Seed-order invariance: each workload's per-key outputs do not depend on
the key order the seed picks.

    python3 -m unittest perfbench/test_seed_order.py

Runs every workload at sf0.001 under two seeds and asserts identical row
counts and content hashes for every key. Takes a few minutes.
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import BENCH, BUILD, WORKLOADS, key_order, other_seed  # noqa: E402

FIXTURES = BENCH / "fixtures" / "sf0.001"


def outputs(workload, seed, path):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--fixtures", str(FIXTURES),
         "--outputs", str(path)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} failed:\n{proc.stdout}\n{proc.stderr}")
    return path.read_text()


class SeedOrderTest(unittest.TestCase):
    def test_outputs_do_not_depend_on_key_order(self):
        BUILD.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=BUILD) as tmp:
            for workload in sorted(WORKLOADS):
                with self.subTest(workload=workload):
                    seed = other_seed(workload, 1)
                    self.assertNotEqual(key_order(workload, 1), key_order(workload, seed))
                    out1 = outputs(workload, 1, Path(tmp) / "1.tsv")
                    out2 = outputs(workload, seed, Path(tmp) / "2.tsv")
                    self.assertNotIn("FAILED", out1)
                    self.assertEqual(out1, out2)


if __name__ == "__main__":
    unittest.main()
