#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # tail helper, input determinism
    python3 perfbench/selftest.py --counts   # also: repeatable Spark counts

Run from the root of a checkout. The input tests build the benchmark
(as run.py does) and ask the JVM to write each workload's generated
inputs. The --counts test makes two traced runs of each workload with
one seed, a few minutes in all, and checks that every step they share
ran the same number of Spark jobs, stages and tasks.
"""

import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import trace_summary  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail_percentile(xs), (90, 90.0))
        xs = list(range(1, 31))
        self.assertEqual(run.tail_percentile(xs), (20, 100.0 * 20 / 30))

    def test_unsorted_input_has_ten_beyond(self):
        xs = [float(x * 37 % 101) for x in range(40)]
        value, pct = run.tail_percentile(xs)
        self.assertEqual(pct, 75.0)
        self.assertEqual(sorted(xs).index(value), len(xs) - 11)

    def test_too_few_samples(self):
        self.assertIsNone(run.tail_percentile(list(range(10))))
        self.assertEqual(run.tail_percentile(list(range(11))), (0, 100.0 / 11))


class Intervals(unittest.TestCase):
    def test_union_and_cover(self):
        self.assertEqual(trace_summary.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(trace_summary.covered_ms((1, 5), [(0, 2), (4, 9)]), 2)


class InputDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(OUT, exist_ok=True)
        cls.classes = run.build(ROOT, OUT)
        cls.tmp = tempfile.mkdtemp(dir=OUT)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def dump(self, workload, seed, name):
        path = os.path.join(self.tmp, name)
        cmd = [run.java(), "-XX:-UsePerfData", "-cp", os.pathsep.join([self.classes, run.spark_jars()]),
               "perfbench.Main", "--dump-inputs", path, "--workload", workload,
               "--seed", str(seed), "--steps", "6"]
        subprocess.run(cmd, check=True)
        return path

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a = self.dump(w, 7, f"{w}-a")
                b = self.dump(w, 7, f"{w}-b")
                c = self.dump(w, 8, f"{w}-c")
                self.assertGreater(os.path.getsize(a), 0)
                self.assertTrue(filecmp.cmp(a, b, shallow=False))
                self.assertFalse(filecmp.cmp(a, c, shallow=False))


class RepeatableCounts(unittest.TestCase):
    """Two traced runs of one seed: identical jobs, stages and tasks on
    every step both runs reached."""

    def counts(self, workload):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            workload, "--seed", "5", "--seconds", "4", "--trace", "1",
                            "--keep"], capture_output=True, text=True, cwd=ROOT)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        kept = [line for line in p.stderr.splitlines() if "run directory kept at" in line]
        run_dir = kept[-1].split("kept at ", 1)[1]
        try:
            summary = trace_summary.summarize(os.path.join(run_dir, "trace.jsonl"), workload)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        return summary["counts"]

    def test_counts_repeat(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.counts(w), self.counts(w)
                shared = sorted(set(a) & set(b))
                self.assertGreaterEqual(len(shared), 6)
                for step in shared:
                    self.assertEqual(a[step], b[step], f"{w} step {step}")


if __name__ == "__main__":
    counts = "--counts" in sys.argv
    tests = unittest.TestSuite()
    loader = unittest.defaultTestLoader
    for case in (TailPercentile, Intervals, InputDeterminism) + ((RepeatableCounts,) if counts else ()):
        tests.addTests(loader.loadTestsFromTestCase(case))
    ok = unittest.TextTestRunner(verbosity=2).run(tests).wasSuccessful()
    sys.exit(0 if ok else 1)
