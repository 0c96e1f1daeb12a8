#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/test_run.py

Run from the root of a checkout. They prove that a failed op is counted
and never timed, that a failure makes the run exit non-zero, and that
the harness refuses to run without the program's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *args):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + list(args),
                          cwd=cwd, capture_output=True, text=True, timeout=600)


class ForcedFailure(unittest.TestCase):
    def test_serve_against_missing_index_is_counted_not_timed(self):
        # the first iteration serves its band batch from a missing index dir
        p = run(ROOT, "--workload", "index_cdc", "--seed", "3", "--seconds", "1",
                "--trace", "0", "--inject", "missing-index")
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        with open(os.path.join(HERE, "out", "index_cdc-seed3-trace0.json")) as fh:
            record = json.load(fh)
        self.assertEqual([f["op"] for f in record["failures"]], ["serve"])
        self.assertIn("no_such_index", record["failures"][0]["error"])
        serve = record["samples"]["serve"]
        # every attempted serve but the failed one has a latency
        self.assertEqual(serve["n"], record["attempted_by_kind"]["serve"] - 1)
        # the iteration holding the failed serve has no run time
        iterations = len(record["iterations"])
        self.assertEqual(record["samples"].get("run", {"n": 0})["n"], iterations - 1)


class MissingProgram(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = os.path.join(HERE, "work", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("work", "out", "target"))
            shutil.rmtree(os.path.join(bare, "perfbench", "project", "project"),
                          ignore_errors=True)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            p = run(bare, "--workload", "index_cdc", "--seed", "1", "--seconds", "1",
                    "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
