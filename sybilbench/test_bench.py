#!/usr/bin/env python3
"""The benchmark's own tests. Each workload runs once in smoke mode (tiny
inputs, every check still on), traced, so one run shows both metric sets.

    python3 sybilbench/test_bench.py

- the metric names, units and directions the command prints are exactly
  those in BENCHMARK.json, end-to-end and per-layer;
- the checker rejects a perturbed expected value (the run's self-check);
- in a directory that holds only BENCHMARK.json and the benchmark, the
  command fails without printing a result.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(root, workload, trace):
    p = subprocess.run([sys.executable, str(root / "sybilbench" / "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), "--smoke", "1"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    return p


def printed(stderr):
    """{name: (unit, better)} from the run's `[sybilbench] metric` lines."""
    out = {}
    for line in stderr.splitlines():
        if line.startswith("[sybilbench] metric "):
            _, _, name, _, unit, better = line.split()
            out[name] = (unit, better)
    return out


def spec(key):
    return {m["name"]: (m["unit"], m["better"]) for m in SPEC[key]}


class SmokeRuns(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in SPEC["workloads"]:
            cls.runs[w["name"]] = run(ROOT, w["name"], trace=1)

    def test_workloads_pass(self):
        for name, p in self.runs.items():
            with self.subTest(workload=name):
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                res = json.loads(p.stdout.splitlines()[-1])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)

    def test_names_units_directions(self):
        for name, p in self.runs.items():
            with self.subTest(workload=name):
                shown = printed(p.stderr)
                self.assertEqual({k: shown[k] for k in spec("end_to_end") if k in shown},
                                 spec("end_to_end"))
                self.assertEqual({k: shown[k] for k in spec("per_layer") if k in shown},
                                 spec("per_layer"))
                self.assertEqual(set(shown), set(spec("end_to_end")) | set(spec("per_layer")))
                res = json.loads(p.stdout.splitlines()[-1])
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                                 {k: u for k, (u, _) in spec("per_layer").items()})

    def test_untraced_run_prints_end_to_end_metrics(self):
        p = run(ROOT, SPEC["workloads"][0]["name"], trace=0)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.splitlines()[-1])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {k: u for k, (u, _) in spec("end_to_end").items()})
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def test_checker_rejects_perturbed_expectation(self):
        for name, p in self.runs.items():
            with self.subTest(workload=name):
                self.assertIn("self-check: perturbed expectation rejected", p.stderr)


class BareDirectory(unittest.TestCase):
    def test_fails_without_program_sources(self):
        bare = ROOT / ".bench_build" / "bare-test"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(BENCH, bare / "sybilbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run(bare, SPEC["workloads"][0]["name"], trace=0)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip(), p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
