#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a graft checkout:

    python3 perfbench/test_perfbench.py

Each workload runs briefly at sf0.001, traced and untraced, and must print
every metric BENCHMARK.json names, with its unit. A wrong expected digest
must trip the correctness gate, and a directory holding only the benchmark
(no graft source) must fail fast without printing a result. Takes about
five minutes on 4 cores.
"""
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SF = "sf0.001"


@contextlib.contextmanager
def scratch_copy():
    """A temp dir holding a copy of the benchmark directory."""
    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_run"))
    try:
        shutil.copytree(BENCH, os.path.join(d, os.path.basename(BENCH)),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        yield d
    finally:
        shutil.rmtree(d)


def bench(*args, cwd=ROOT, bench_dir=None):
    bench_dir = bench_dir or os.path.join(cwd, os.path.basename(BENCH))
    r = subprocess.run(
        [sys.executable, os.path.join(bench_dir, "run.py"),
         "--seconds", "1",
         "--sf", SF, *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


class BenchmarkTest(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def test_every_metric_printed_with_its_unit(self):
        for w in self.spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, out, err = bench("--workload", w["name"], "--seed", "1",
                                         "--trace", str(trace))
                    self.assertEqual(rc, 0, err[-2000:])
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in self.spec[key]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in out["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if trace == 0:
                        for k, v in out["metrics"].items():
                            self.assertGreater(v["value"], 0, k)

    def test_wrong_expected_digest_trips_the_gate(self):
        # a copy of the benchmark with one digest tampered, run against
        # this checkout's program
        with scratch_copy() as d:
            copy = os.path.join(d, os.path.basename(BENCH))
            path = os.path.join(copy, "expected", SF + ".json")
            with open(path) as f:
                exp = json.load(f)
            slot = next(k for k, v in sorted(exp.items()) if "digest" in v)
            exp[slot]["digest"] = "0" * 64
            with open(path, "w") as f:
                json.dump(exp, f)
            rc, out, err = bench("--workload", "batch", "--seed", "1",
                                 "--trace", "0", bench_dir=copy)
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertIn(slot, err)

    def test_without_the_program_it_fails_fast(self):
        with scratch_copy() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            rc, out, err = bench("--workload", "batch", "--seed", "1",
                                 "--trace", "0", cwd=d)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main(verbosity=2)
