#!/usr/bin/env python3
"""Exact-count self-check of the log-store benchmark.

For every workload: two traced runs with a zero-second window (one
untraced and one traced unit) with the same seed must report identical exact counts (rows written,
chunks, files written, Spark jobs per op, files read per op), and a run
with a second seed must change the inputs and still pass every correctness
gate.  Stored bytes must agree to within STORED_BYTES_TOLERANCE rather than
exactly: every log document id embeds a ULID minted at write time, whose
time prefix and SecureRandom entropy (incremented within one millisecond)
depend on when and how fast the ids are minted, so the id columns compress
to a slightly different size from run to run.  Run from the repository root:

    python3 perfbench/test_exact_counts.py          # all workloads
    python3 perfbench/test_exact_counts.py log_ingest
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402

STORED_BYTES_TOLERANCE = 0.005
SEED_A, SEED_B = 101, 202


def run_once(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(build.build_dir(), "results",
                        f"{workload}-seed{seed}-trace1.json")
    with open(path) as fh:
        record = json.load(fh)
    return proc.returncode, last, record


class ExactCounts(unittest.TestCase):
    workloads = WORKLOADS

    def test_exact_counts(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                code_a, last_a, rec_a = run_once(w, SEED_A)
                code_a2, _, rec_a2 = run_once(w, SEED_A)
                code_b, last_b, rec_b = run_once(w, SEED_B)
                for code, last in ((code_a, last_a), (code_b, last_b)):
                    self.assertEqual(code, 0)
                    self.assertTrue(last["correct"])
                    self.assertEqual(last["failed"], 0)
                self.assertEqual(code_a2, 0)
                exact_a, exact_a2 = dict(rec_a["exact"]), dict(rec_a2["exact"])
                self.assertTrue(exact_a)
                if "stored_bytes" in exact_a:
                    a, a2 = exact_a.pop("stored_bytes"), exact_a2.pop("stored_bytes")
                    self.assertLessEqual(abs(a - a2) / a, STORED_BYTES_TOLERANCE, (a, a2))
                self.assertEqual(exact_a, exact_a2)
                self.assertEqual(rec_a["env"]["sizes"]["input_md5"], rec_a2["env"]["sizes"]["input_md5"])
                self.assertNotEqual(rec_a["env"]["sizes"]["input_md5"], rec_b["env"]["sizes"]["input_md5"])


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] in WORKLOADS:
        ExactCounts.workloads = (sys.argv.pop(1),)
    unittest.main()
