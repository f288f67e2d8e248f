#!/usr/bin/env python3
"""The benchmark leaves the working tree as it found it.

Runs one short benchmark (every workload with --all) and checks that
`git status` is unchanged, that the graft.Bench records (BENCH_FULL.json,
target/bench.json) are untouched, and that no per-run temp root is left
behind. Run from the repository root:

    python3 perfbench/test_clean_tree.py [--all]
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ["monthly_tick", "curation_mix", "stream_admit"]


def git_status():
    return subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=REPO, capture_output=True, text=True, check=True).stdout


def stat(path):
    p = os.path.join(REPO, path)
    return os.stat(p).st_mtime_ns if os.path.exists(p) else None


class CleanTree(unittest.TestCase):
    workloads = WORKLOADS[2:]

    def test_run_leaves_tree_unchanged(self):
        if subprocess.run(["git", "rev-parse"], cwd=REPO,
                          capture_output=True).returncode != 0:
            self.skipTest("not a git checkout")
        before = git_status()
        records = {p: stat(p) for p in ("BENCH_FULL.json", "target/bench.json")}
        for w in self.workloads:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=REPO, capture_output=True, text=True, timeout=900)
            self.assertEqual(out.returncode, 0, out.stderr[-2000:])
            result = json.loads(out.stdout.strip().splitlines()[-1])
            self.assertTrue(result["correct"], out.stderr[-2000:])
        self.assertEqual(git_status(), before)
        self.assertEqual({p: stat(p) for p in records}, records)
        runs = os.path.join(HERE, "target", "runs")
        self.assertEqual(os.listdir(runs) if os.path.isdir(runs) else [], [])


if __name__ == "__main__":
    if "--all" in sys.argv:
        sys.argv.remove("--all")
        CleanTree.workloads = WORKLOADS
    unittest.main()
