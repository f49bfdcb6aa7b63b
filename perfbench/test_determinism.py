#!/usr/bin/env python3
"""Determinism check: two traced runs at the same seed must launch the same
Spark jobs, stages and tasks, op for op, in every op class.

    python3 perfbench/test_determinism.py [workload ...]

Each traced run writes its per-op counts to .bench_build/trace/. The runs are
time-bounded, so they may complete different numbers of ops; the check
compares every op class over the ops both runs completed. These counts do
not depend on the host, which is what makes them usable as budgets.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7
WORKLOADS = ["commit_path", "snapshot_scan", "medallion_refresh"]


def traced_counts(workload, seed):
    """Per op class, the (jobs, stages, tasks) of each op, in op order."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                    "--trace", "1"], cwd=ROOT, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    trace = ROOT / ".bench_build" / "trace" / f"{workload}-seed{seed}.json"
    doc = json.loads(trace.read_text())
    by_class = {}
    for op in sorted(doc["op_counts"], key=lambda o: o["op"]):
        by_class.setdefault(op["class"], []).append((op["jobs"], op["stages"], op["tasks"]))
    return by_class


class Determinism(unittest.TestCase):
    workloads = WORKLOADS

    def test_counts_repeat_at_a_fixed_seed(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                a = traced_counts(w, SEED)
                b = traced_counts(w, SEED)
                self.assertEqual(set(a), set(b))
                for cls in a:
                    n = min(len(a[cls]), len(b[cls]))
                    self.assertGreater(n, 0, f"{w}/{cls}: no op in common")
                    self.assertEqual(a[cls][:n], b[cls][:n],
                                     f"{w}/{cls}: (jobs, stages, tasks) per op differ")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        Determinism.workloads = sys.argv[1:]
        del sys.argv[1:]
    unittest.main()
