"""The benchmark's own tests. They start the JVM several times and take a few
minutes. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402
import oracle  # noqa: E402

SMOKE_SF = 0.001


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class Arguments(unittest.TestCase):
    def test_malformed_arguments_fail_fast_naming_the_argument(self):
        for args, name in [(["--seed", "x1"], "--seed"), (["--cores", "0"], "--cores"),
                           (["--cores", "four"], "--cores"), (["--seconds", "-3"], "--seconds"),
                           (["--seconds", str(run.MAX_SECONDS + 1)], "--seconds"),
                           (["--workload", "nope"], "--workload")]:
            full = {"--workload": "folds", "--seed": "1", "--seconds": "1"}
            full.update(dict(zip(args[::2], args[1::2])))
            t0 = time.monotonic()
            p = bench(*[x for kv in full.items() for x in kv])
            self.assertEqual(p.returncode, 2, p.stderr)
            self.assertLess(time.monotonic() - t0, 10, "a session must not start")
            lines = p.stderr.strip().splitlines()
            self.assertEqual(len(lines), 1, p.stderr)
            self.assertIn(name, lines[0])
            self.assertEqual(p.stdout, "")

    def test_fails_without_the_program(self):
        bare = os.path.join(run.WORK, "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        try:
            p = bench("--workload", "folds", "--seed", "1", "--seconds", "1", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


def run_in_process(workload, seed, trace, run_dir):
    """One benchmark run at SMOKE_SF without the command line: the JVM's
    result, the fixture directory, and the dump left in run_dir."""
    run.build()
    args = run.parse_args(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                           "--trace", str(trace)])
    data = run.fixture(workload, SMOKE_SF, seed)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    return run.run_jvm(args, data, run_dir, time.monotonic() + run.RUN_LIMIT_S), data


class Smoke(unittest.TestCase):
    def test_every_declared_metric_is_printed_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        run_dir = os.path.join(run.WORK, "test-smoke")
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            for w in spec["workloads"]:
                try:
                    result, data = run_in_process(w["name"], 5, trace, run_dir)
                    check = oracle.compare(ROOT, data, os.path.join(run_dir, "dump"),
                                           result["queries"])
                finally:
                    shutil.rmtree(run_dir, ignore_errors=True)
                out = json.loads(json.dumps(run.summarize(result, check, trace == 1)))
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"], (check, result["errors"]))
                self.assertEqual(out["failed"], 0)
                want = {m["name"]: m["unit"] for m in declared}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in out["metrics"].items():
                    self.assertIsInstance(v["value"], float, k)


class NegativeControl(unittest.TestCase):
    def test_a_corrupted_result_is_caught(self):
        run_dir = os.path.join(run.WORK, "test-negative")
        try:
            result, data = run_in_process("folds", 9, 0, run_dir)
            dump = os.path.join(run_dir, "dump")
            clean = oracle.compare(ROOT, data, dump, result["queries"])
            self.assertEqual({q: why for q, why in clean.items() if why}, {})
            before = run.summarize(result, clean, trace=False)
            self.assertTrue(before["correct"])

            # drop one row of q1's output
            q1 = os.path.join(dump, "q1_flagship")
            con = duckdb.connect()
            rows = con.execute(f"SELECT * FROM read_parquet('{q1}/*.parquet')").arrow()
            shutil.rmtree(q1)
            os.makedirs(q1)
            con.register("cut", rows.slice(1))
            con.execute(f"COPY (SELECT * FROM cut) TO '{q1}/part-0.parquet' (FORMAT parquet)")
            con.close()
            corrupted = oracle.compare(ROOT, data, dump, result["queries"])
            self.assertIn("rows != oracle", corrupted["q1_flagship"] or "")
            after = run.summarize(result, corrupted, trace=False)
            self.assertFalse(after["correct"])
            self.assertGreater(after["failed"], before["failed"])
            self.assertLess(after["metrics"]["ok_frac"]["value"],
                            before["metrics"]["ok_frac"]["value"])
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
