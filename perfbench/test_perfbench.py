"""Self-test of the benchmark, at the smallest sizes it runs.

Every workload (the two in BENCHMARK.json and the manual `full_sync`)
runs briefly and must print every end-to-end metric with its unit, with
no failed operation, a passing output check and a detected negative
control; one traced run must print every per-layer metric and write its
spans. The runner must refuse engine knobs and fail without a result
outside a repository checkout. Takes about five minutes at 4 cores:

    python3 -m unittest perfbench/test_perfbench.py   # from the repository root
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def read_json(path):
    with open(path) as f:
        return json.load(f)


SPEC = read_json(os.path.join(ROOT, "BENCHMARK.json"))


def bench(workload, seconds, trace=0, env=None, cwd=ROOT, runner=None):
    proc = subprocess.run(
        [sys.executable, runner or os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


class Workloads(unittest.TestCase):

    def check_run(self, workload, seconds):
        code, out = bench(workload, seconds)
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
        for name, m in out["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        record = read_json(os.path.join(WORK, "record-%s-0.json" % workload))
        self.assertEqual(record["errors"], [])
        self.assertEqual(record["negative_control_missed"], [])

    def test_incremental(self):
        self.check_run("incremental", 1)

    def test_streaming(self):
        self.check_run("streaming", 6)

    def test_full_sync(self):
        self.check_run("full_sync", 1)

    def test_traced(self):
        code, out = bench("streaming", 6, trace=1)
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
        self.assertEqual(out["metrics"]["bench.error_rate"]["value"], 0)
        self.assertGreater(out["metrics"]["bench.tracing_overhead_ratio"]["value"], 0)
        spans = read_json(os.path.join(WORK, "spans-traced.json"))
        self.assertTrue(any(s["name"] == "streaming" for s in spans))


class Hygiene(unittest.TestCase):

    def test_refuses_engine_knob(self):
        env = dict(os.environ, GRAFT_PAR="0")
        code, out = bench("incremental", 1, env=env)
        self.assertNotEqual(code, 0)
        self.assertIsNone(out)

    def test_fails_outside_a_checkout(self):
        bare = os.path.join(WORK, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, out = bench("incremental", 1, cwd=bare,
                              runner=os.path.join(bare, "perfbench", "run.py"))
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(code, 0)
        self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
