#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

Each workload runs at smoke size (tiny tables, a few seconds), untraced
and traced; every metric BENCHMARK.json names must be emitted with its
unit, and no operation may fail. Inputs must be byte-identical for one
seed and differ between seeds. Outside a checkout the benchmark must
refuse to run.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = ("ingest_stream", "upsert_lookup", "mv_refresh")


def run(*args, cwd=ROOT):
    p = subprocess.run(RUN + list(args), cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        rc, lines, err = run("--workload", workload, "--seed", "7", "--seconds", "3",
                             "--trace", str(trace), "--smoke", "1")
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0, lines)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertTrue(any(l.strip() == f"error_rate=0.0000 fraction (0 of {result['attempted']})"
                            for l in lines), lines)
        self.assertTrue(any(l.startswith("env {") for l in lines), lines)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in wanted:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
        else:
            cov = result["metrics"]["trace.span_coverage_min"]["value"]
            self.assertGreaterEqual(cov, 0.9)

    def test_smoke(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in WORKLOADS:
            digests = [run("--workload", w, "--seed", s, "--digest", "20")[1][-1]
                       for s in ("7", "7", "8")]
            self.assertEqual(digests[0], digests[1], w)
            self.assertNotEqual(digests[0], digests[2], w)


class Refusal(unittest.TestCase):
    def test_refuses_without_library_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            rc, lines, _ = run("--workload", "ingest_stream", "--seed", "1", "--seconds", "1",
                               "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
