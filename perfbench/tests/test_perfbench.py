"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The count-determinism tests run two traced runs of one workload each (a
few minutes in all on four cores); `-k` narrows them, as in
`-k test_counts_repeat_docdb`.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)
sys.path.insert(0, PKG)

import build  # noqa: E402
import gen  # noqa: E402

# counters that must repeat exactly on one seed: plan-deterministic work
COUNT_SUFFIXES = (".jobs", ".stages", ".tasks", ".jobs_per_call")
COUNT_NAMES = ("streaming.batches",)


def run_bench(workload, seed, trace, seconds=1):
    """The run's printed metric lines by name, and its result line."""
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}: {out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    printed = {ln.split()[1]: float(ln.split()[2]) for ln in lines if ln.startswith("metric ")}
    return printed, json.loads(lines[-1])


class JsonWriterLocaleTest(unittest.TestCase):
    """Every number the JVM side emits goes through one writer; under a
    comma-decimal default locale it must still produce parseable JSON with
    the exact values."""

    def test_de_DE_default_locale(self):
        jar = build.build()
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, build.BUILD_DIR)) as work:
            cmd = build.java_cmd(jar, ["--workload", "json-selftest", "--work", work],
                                 ["-Duser.language=de", "-Duser.country=DE"])
            subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, timeout=120)
            with open(os.path.join(work, "selftest.json")) as f:
                got = json.load(f)
        self.assertTrue(got["locale"].startswith("de"), got["locale"])
        self.assertEqual(got["values"], [1234.5678, 0.001, 1.0e-7, 12345678.9, -0.5, 3.0, 0.0])
        self.assertEqual(got["metrics"]["x_ms"]["value"], 1.5)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.generate(os.path.join(d, name), seed, sf=0.002)

            def read(name, table):
                with open(os.path.join(d, name, f"{table}.parquet"), "rb") as f:
                    return f.read()
            for t in ("lineitem", "events", "documents", "embeddings"):
                self.assertEqual(read("a", t), read("b", t), t)
                self.assertNotEqual(read("a", t), read("c", t), t)


class BareDirectoryTest(unittest.TestCase):
    """With only BENCHMARK.json and the benchmark's files there is no
    library to build: the command must fail without printing a result."""

    def test_fails_without_library(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(PKG, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            out = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "olap",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"metrics"', out.stdout)


class ReplayCheckTest(unittest.TestCase):
    """An untraced docdb run replays a signed add in its timed pass and
    counts the rejection as a passed check."""

    def test_replay_checked_untraced(self):
        printed, res = run_bench("docdb", 7, trace=0)
        self.assertTrue(res["correct"], res)
        self.assertGreaterEqual(printed["replay_checks"], 1)


class CountDeterminismTest(unittest.TestCase):
    """Two traced runs at one seed give identical job, stage and task
    counts per layer, identical jobs per call and streaming batches."""

    def counts_repeat(self, workload):
        a = run_bench(workload, 7, trace=1)[1]["metrics"]
        b = run_bench(workload, 7, trace=1)[1]["metrics"]
        counts = [k for k in a if k.endswith(COUNT_SUFFIXES) or k in COUNT_NAMES]
        self.assertTrue(counts)
        for k in counts:
            self.assertEqual(a[k]["value"], b[k]["value"], k)

    def test_counts_repeat_docdb(self):
        self.counts_repeat("docdb")

    def test_counts_repeat_olap(self):
        self.counts_repeat("olap")

    def test_counts_repeat_curation(self):
        self.counts_repeat("curation")


if __name__ == "__main__":
    unittest.main()
