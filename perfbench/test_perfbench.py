#!/usr/bin/env python3
"""Checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

Covers the seeded generator (same seed, same bytes; another seed,
other bytes), the answer check (a deliberately altered result must be
caught by the same comparison the timed calls use) and the tail
percentile rule.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(os.getcwd(), ".bench_build", "perfbench-test")


def tearDownModule():
    shutil.rmtree(WORK, ignore_errors=True)


class GeneratorTest(unittest.TestCase):
    def test_seed_fixes_bytes(self):
        a = gen.generate(os.path.join(WORK, "a"), 7)
        b = gen.generate(os.path.join(WORK, "b"), 7)
        c = gen.generate(os.path.join(WORK, "c"), 8)
        self.assertEqual(a["digest"], b["digest"])
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertEqual(a["tables"]["lineitem"]["rows"], c["tables"]["lineitem"]["rows"])


class AnswerCheckTest(unittest.TestCase):
    def test_canon_matches_scala_forms(self):
        self.assertEqual(oracle.canon(0.1 + 0.2), "0.3")
        self.assertEqual(oracle.canon(-0.0), "0")
        self.assertEqual(oracle.canon(1e20), "100000000000000000000")
        self.assertEqual(oracle.canon(True), "1")
        self.assertEqual(oracle.canon([1.5, None]), "[1.5,NULL]")

    def test_answer_follows_oracle_sql(self):
        """A cached answer is computed again once its oracle SQL changes."""
        data = os.path.join(WORK, "empty")
        os.makedirs(data, exist_ok=True)
        out = os.path.join(WORK, "answers")
        oracle.answers(data, out, {"q": "SELECT 1 AS a"}, 1)
        oracle.answers(data, out, {"q": "SELECT 2 AS a"}, 1)
        with open(os.path.join(out, "q.json")) as f:
            self.assertEqual(json.load(f)["rows"], [["2"]])

    def test_altered_results_are_caught(self):
        """Runs the harness's self-test: the true answer of each query
        must pass, and a changed cell, a dropped row and a duplicated row
        must each be reported as a mismatch."""
        work = os.path.join(os.getcwd(), ".bench_build", "perfbench")
        classes, sql_file = build.build(os.getcwd(), work)
        data = os.path.join(WORK, "selftest")
        gen.generate(data, 11)
        queries = ["q01", "q21"]
        with open(sql_file) as f:
            sql = json.load(f)
        oracle.answers(data, os.path.join(data, "answers"), {q: sql[q] for q in queries}, 2)
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(build.java(classes, "2g", [f"-Djava.io.tmpdir={tmp}"]) + [
            "perfbench.Harness", "--data", data, "--expect", os.path.join(data, "answers"),
            "--queries", ",".join(queries), "--seconds", "0", "--selftest", "1", "--out", os.path.join(tmp, "out.json")],
            capture_output=True, text=True, cwd=tmp)
        lines = [l for l in r.stderr.splitlines() if l.startswith("[selftest]")]
        self.assertEqual(r.returncode, 0, "\n".join(lines) or r.stderr[-2000:])
        self.assertEqual(len(lines), 4 * len(queries))


class TailTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct = run.tail(xs)
        self.assertEqual(value, 89)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual(pct, 90.0)

    def test_no_tail_below_p90(self):
        self.assertIsNone(run.tail(list(range(99))))


if __name__ == "__main__":
    unittest.main()
