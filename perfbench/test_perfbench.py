"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The planted-fault test compiles the engine and the benchmark (see build.py)
and runs every workload once on a small input, so it takes a few minutes.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


class CommandLine(unittest.TestCase):
    def test_rejects_unknown_workload(self):
        with self.assertRaises(SystemExit) as e:
            run.parse_args(["--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0"])
        self.assertNotEqual(e.exception.code, 0)

    def test_rejects_zero_seconds(self):
        with self.assertRaises(SystemExit):
            run.parse_args(["--workload", "eval_fields", "--seed", "1", "--seconds", "0", "--trace", "0"])

    def test_fails_without_engine_sources(self):
        """A directory holding only the benchmark has nothing to build: the
        run must fail fast and print no result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "extract_commit",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120, check=False)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class PlantedFaults(unittest.TestCase):
    def test_every_check_fails_on_its_fault(self):
        classes = build.ensure_built()
        with tempfile.TemporaryDirectory() as work:
            os.makedirs(os.path.join(work, "tmp"))
            p = subprocess.run(
                run.jvm_command(classes, work, ["--cores", "2", "--work", work],
                                main="graft.perfbench.SelfTest"),
                capture_output=True, text=True, timeout=900, check=False)
            self.assertEqual(p.returncode, 0, p.stdout[-4000:] + p.stderr[-2000:])
            self.assertIn("expectations met", p.stdout)


if __name__ == "__main__":
    unittest.main()
