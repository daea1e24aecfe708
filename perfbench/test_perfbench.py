"""The benchmark's own tests. Each runs perfbench/run.py on a tiny corpus.

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root

They take a few minutes: every run starts a JVM and a Spark session.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"commit_resume": 300, "ops_battery": 100}


def bench(workload, seed=5, trace=0, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "0.5", "--trace", str(trace), "--docs", str(TINY[workload]), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def exact_counts(metrics):
    """Per-layer figures that count work rather than time it. The manifest
    size is left out: the manifest records elapsed milliseconds."""
    return {k: v["value"] for k, v in metrics.items()
            if (k.endswith(("_records", "_bytes", "changed_cells", ".tasks", "_routed",
                            "skipped_buckets", "files_written", "orphan_files_removed"))
                and k != "lineage.manifest_bytes")}


class SmokeTest(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    res = bench(w["name"], trace=trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)


class CorruptionTest(unittest.TestCase):
    def test_planted_corruption_is_caught(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = bench(w["name"], 5, 1, "--corrupt")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertGreater(res["metrics"]["failed_frac"]["value"], 0)


class DeterminismTest(unittest.TestCase):
    def test_same_seed_same_counts(self):
        for w in SPEC["workloads"]:
            w = w["name"]
            with self.subTest(workload=w):
                a = exact_counts(bench(w, 9, 1)["metrics"])
                b = exact_counts(bench(w, 9, 1)["metrics"])
                self.assertTrue(a)
                self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
