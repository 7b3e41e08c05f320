"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py          # all
    python3 perfbench/test_perfbench.py -k Pure  # without the JVM test
"""
import hashlib
import json
import os
import shutil
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PureTest(unittest.TestCase):
    def setUp(self):
        self.tmp = os.path.join(run.build_dir(), f"test-{os.getpid()}")
        os.makedirs(self.tmp, exist_ok=True)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_percentile_refuses_p90_below_100_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(39)), 0.75)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_tail_picks_highest_allowed_percentile(self):
        self.assertEqual(stats.tail(list(range(1, 201)))[0], 0.95)
        self.assertEqual(stats.tail(list(range(1, 41)))[0], 0.75)
        self.assertEqual(stats.tail(list(range(1, 11))), (0.5, 5.5))

    def test_self_times(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past 1
            {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (5.0 + 1.0))
        self.assertAlmostEqual(st[2], 3.0 - 1.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 3.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_same_seed_same_inputs_and_plans(self):
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, f"{w}-{k}") for k in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertEqual(tree_digest(a), tree_digest(b), w)
            self.assertNotEqual(tree_digest(a), tree_digest(c), w)

    def test_lake_model_bookkeeping(self):
        lines = gen.lake_plan(3, 0.001, commits=30)
        commits = [ln for ln in lines if ln[0] == "commit"]
        self.assertEqual(len(commits), 30)
        self.assertEqual([ln[5] for ln in commits[:4]], gen.LAKE_KINDS)
        self.assertEqual(commits[gen.LAKE_COMPACT_EVERY - 1][5], "compact")
        # a compaction leaves the model's state unchanged
        i = gen.LAKE_COMPACT_EVERY - 1
        self.assertEqual(commits[i][2:5], commits[i - 1][2:5])


    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], stats.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


class LakeModelAgainstTableTest(unittest.TestCase):
    """The model's expected count, exact price sum and updated-row count
    match the real versioned table after every commit and at every
    time-travel read, on both read surfaces (sf0.001, 30 commits)."""

    def test_model_matches_table(self):
        bdir = run.build_dir()
        os.makedirs(bdir, exist_ok=True)
        cp = run.build.build(bdir)
        run_dir = os.path.join(bdir, f"test-lake-{os.getpid()}")
        try:
            res = run.run_harness(cp, "lake-churn", 5, 600, 0, run_dir, time.time() + 600,
                                  gen_args={"lake_sf": 0.001, "lake_commits": 30})
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        self.assertEqual(res["failures"], [])
        # the first cycles are the set-up's warm-up
        self.assertEqual(len(res["ops"]), 30 - len(gen.LAKE_KINDS))
        self.assertTrue(all(o["ok"] for o in res["ops"]))
        self.assertEqual({o["kind"] for o in res["ops"]},
                         {f"cycle:{k}" for k in gen.LAKE_KINDS + ["compact"]})


if __name__ == "__main__":
    unittest.main()
