#!/usr/bin/env python3
"""Tests of the benchmark itself: python3 perfbench/selftest.py

- a tiny-size smoke run of each workload, untraced and traced, emits every
  metric of BENCHMARK.json with its unit and passes its checks;
- a planted mismatch (the reference built from another seed) drives
  `failed` above 0 and `correct` to false;
- in a directory holding only BENCHMARK.json and the benchmark's paths the
  command exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = ("extract-mix", "extract-pdf", "curate-funnel")
TINY = ["--seed", "11", "--seconds", "1", "--pages", "400"]


def bench(*args, cwd=ROOT):
    r = subprocess.run(SPEC["command"] + list(args), cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    return r.returncode, lines, r.stderr


def result(lines):
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    return res


class Smoke(unittest.TestCase):
    def check_metrics(self, res, specs):
        want = {m["name"]: m["unit"] for m in specs}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for v in res["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], (int, float))

    def run_tiny(self, workload, trace):
        rc, lines, err = bench("--workload", workload, "--trace", str(trace), *TINY)
        self.assertEqual(rc, 0, err[-2000:])
        res = result(lines)
        self.assertTrue(res["correct"], lines[-2])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        record = json.loads(lines[-2])
        for k in ("nproc", "mem_total_mb", "jvm", "spark", "master", "git_head", "code_stamp"):
            self.assertIn(k, record["host"])
        self.assertRegex(record["input_digest"], "^[0-9a-f]{64}$")
        return res

    def test_untraced_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = self.run_tiny(w, 0)
                self.check_metrics(res, SPEC["end_to_end"])
                for v in res["metrics"].values():
                    self.assertGreater(v["value"], 0)

    def test_traced_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check_metrics(self.run_tiny(w, 1), SPEC["per_layer"])

    def test_planted_mismatch_fails(self):
        for w in ("extract-mix", "curate-funnel"):
            with self.subTest(workload=w):
                rc, lines, err = bench("--workload", w, "--trace", "0", "--ref-seed", "12", *TINY)
                self.assertEqual(rc, 0, err[-2000:])
                res = result(lines)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertGreater(json.loads(lines[-2])["failed_frac"], 0)

    def test_bare_directory_refuses(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("target", "project/project"))
        try:
            rc, lines, _ = bench("--workload", "extract-mix", "--seed", "1", "--seconds", "1",
                                 "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
