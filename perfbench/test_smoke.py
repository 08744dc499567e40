"""The benchmark's own test: smoke mode works on a clean checkout, and the
command fails without printing a result where there is no program to
build.

    python3 -m unittest perfbench/test_smoke.py     (about two minutes)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def copy_tree(dst, parts):
    for p in parts:
        src = os.path.join(ROOT, p)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(dst, p),
                            ignore=shutil.ignore_patterns("__pycache__", ".perfbench"))
        else:
            shutil.copy(src, os.path.join(dst, p))


class SmokeTest(unittest.TestCase):

    def test_smoke_on_clean_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            copy_tree(d, ["src", "perfbench", "BENCHMARK.json"])
            r = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=d,
                               capture_output=True, text=True, timeout=900)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            self.assertGreater(res["attempted"], 0)
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                spec = json.load(f)
            for m in spec["end_to_end"] + spec["per_layer"]:
                self.assertIn(m["name"], res["metrics"])
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            for m in spec["end_to_end"]:
                self.assertGreater(res["metrics"][m["name"]]["value"], 0)
            self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            copy_tree(d, ["perfbench", "BENCHMARK.json"])
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "interactive",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                               capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
