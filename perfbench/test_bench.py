"""The benchmark's own tests: a tiny-size pass of every workload.

    python3 perfbench/test_bench.py

Checks that every metric named in BENCHMARK.json is printed with its unit,
that an injected wrong answer (query geometry shifted on the way into the
program) is caught by the correctness gate and shows in error_rate, that a
different seed changes the inputs but not the metric names, and that the
benchmark refuses to run without the program's sources.
"""
import json
import os
import pathlib
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--scale", "0.02", "--seconds", "2"]


def run(workload, seed, trace, *extra, cwd=ROOT):
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--trace", str(trace), *TINY, *extra],
                         cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=400)
    return res


def parsed(res):
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    report = json.loads(lines[-2][len("report "):])
    return json.loads(lines[-1]), report


class WorkloadTests(unittest.TestCase):
    def check_workload(self, name):
        plain, plain_rep = parsed(run(name, 1, 0))
        self.assertEqual(set(plain), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(plain["correct"], plain_rep["plain"]["failures"])
        self.assertEqual(plain["failed"], 0)
        self.assertGreaterEqual(plain["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in plain["metrics"].items()}, want)
        self.assertTrue(all(v["value"] > 0 for v in plain["metrics"].values()), plain["metrics"])
        # the p90's footing is recorded with the result
        lat = sorted(ms for _, ms in plain_rep["plain"]["latencies_ms"])
        self.assertEqual(plain_rep["plain"]["samples"], len(lat))
        self.assertEqual(plain_rep["plain"]["samples_beyond_p90"],
                         sum(ms > plain["metrics"]["latency_p90_ms"]["value"] for ms in lat))

        traced, traced_rep = parsed(run(name, 2, 1, "--inject", "shift_box"))
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in traced["metrics"].items()}, want)
        self.assertFalse(traced["correct"])
        self.assertGreater(traced["failed"], 0)
        self.assertGreater(traced["metrics"]["error_rate"]["value"], 0)
        self.assertIn("tracing_overhead", traced_rep)

        other, other_rep = parsed(run(name, 3, 0))
        self.assertTrue(other["correct"], other_rep["plain"]["failures"])
        self.assertEqual(set(other["metrics"]), set(plain["metrics"]))
        self.assertNotEqual(other_rep["env"]["input_digest"], plain_rep["env"]["input_digest"])

    def test_tile_batch(self):
        self.check_workload("tile_batch")

    def test_query_mix(self):
        self.check_workload("query_mix")

    def test_ingest_dedup(self):
        self.check_workload("ingest_dedup")


class BareDirectoryTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "test-bare"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
        res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tile_batch", "--seed", "1",
                              "--seconds", "1", "--trace", "0"], cwd=bare, env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(res.returncode, 0)
        self.assertEqual(res.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
