"""Tests of the benchmark's own checking.

    python3 perfbench/test_perfbench.py            # unit tests, seconds
    PERFBENCH_E2E=1 python3 perfbench/test_perfbench.py   # plus one real run

The end-to-end test runs the suite workload against a copy of the
expected digests with one digest corrupted, and asserts that the run
reports that query as failed.
"""
import copy
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    rows = [{"k": 1, "v": 2.5, "s": "a", "xs": [{"p": 1.0, "q": 3}, {"p": 2.0, "q": 1}]},
            {"k": 2, "v": -1.0, "s": None, "xs": None}]

    def test_order_insensitive(self):
        a = digest.of_rows(self.rows)
        rev = [dict(r) for r in reversed(self.rows)]
        rev[1]["xs"] = list(reversed(rev[1]["xs"]))
        self.assertTrue(digest.same(a, digest.of_rows(rev)))

    def test_float_summation_order(self):
        a = digest.of_rows([{"x": 0.1}, {"x": 0.2}, {"x": 0.3}])
        b = digest.of_rows([{"x": 0.3}, {"x": 0.2}, {"x": 0.1}])
        self.assertTrue(digest.same(a, b))

    def test_changed_value_fails(self):
        a = digest.of_rows(self.rows)
        for change in ({"k": 3}, {"s": "b"}, {"v": 2.6}):
            rows = copy.deepcopy(self.rows)
            rows[0].update(change)
            self.assertFalse(digest.same(digest.of_rows(rows), a), change)
        self.assertFalse(digest.same(digest.of_rows(self.rows[:1]), a))

    def test_float_moved_between_rows_fails(self):
        rows = [{"k": 1, "v": 2.5}, {"k": 2, "v": -1.0}, {"k": 3, "v": 7.25}]
        swapped = copy.deepcopy(rows)
        swapped[0]["v"], swapped[2]["v"] = swapped[2]["v"], swapped[0]["v"]
        a, b = digest.of_rows(rows), digest.of_rows(swapped)
        self.assertEqual((a["n"], a["h"]), (b["n"], b["h"]))  # the exact part is blind to it
        self.assertFalse(digest.same(b, a))

    def test_cancelling_float_sum_tolerates_rounding(self):
        xs = [1e5 + i / 7 for i in range(3000)]
        a = digest.of_rows([{"x": x} for x in xs] + [{"x": -x} for x in xs])
        b = digest.of_rows([{"x": -x} for x in reversed(xs)] + [{"x": x} for x in xs])
        self.assertTrue(digest.same(a, b))


class CheckTest(unittest.TestCase):
    def op(self, i, name, d, error=None, count=None):
        return {"i": i, "name": name, "digest": d, "error": error, "count": count}

    def test_corrupted_expected_digest_is_a_failure(self):
        d = {"n": 4, "h": "99", "f": {}}
        ops = [self.op(0, "q1", d), self.op(1, "q2", d)]
        sec = {"ops": ops, "builds": []}
        self.assertEqual(run.check("suite", {}, sec, {"q1": d, "q2": d}), [])
        bad = {"q1": d, "q2": dict(d, h="98")}
        fails = run.check("suite", {}, sec, bad)
        self.assertEqual([(i, n) for i, n, _ in fails], [(1, "q2")])
        self.assertIn("digest mismatch", fails[0][2])

    def test_error_records_class_and_message(self):
        ops = [self.op(0, "lookup", {}, {"class": "java.lang.IllegalArgumentException",
                                         "message": "unknown field 'x'"})]
        fails = run.check("requests", {"ops": [{"expect": {}}]}, {"ops": ops, "builds": []}, {})
        self.assertEqual(fails[0][2], "java.lang.IllegalArgumentException: unknown field 'x'")

    def test_failed_shared_build_is_a_failure(self):
        sec = {"ops": [], "builds": [{"build": "edges", "error": {
            "class": "java.lang.OutOfMemoryError", "message": "Java heap space"}}]}
        self.assertEqual(run.check("suite", {}, sec, {}),
                         [(-1, "build edges", "java.lang.OutOfMemoryError: Java heap space")])

    def test_mutation_row_count_checked(self):
        d = {"n": 1, "h": "1", "f": {}}
        sec = {"ops": [self.op(0, "update", d, count=3)], "builds": []}
        self.assertEqual(run.check("mutations", {"ops": [{"expect": d, "count": 3}]}, sec, {}),
                         [])
        self.assertEqual(len(run.check("mutations", {"ops": [{"expect": d, "count": 4}]},
                                       sec, {})), 1)


class InputsTest(unittest.TestCase):
    def test_expected_suite_is_the_oracle(self):
        with open(gen.EXPECTED_SUITE) as f:
            recorded = json.load(f)
        oracle = gen.suite_expected(gen.DATA)
        self.assertEqual(sorted(recorded), sorted(gen.suite_names()))
        for n in oracle:
            self.assertTrue(digest.same(recorded[n], oracle[n]), n)

    def test_same_seed_same_inputs(self):
        a = gen.make("mutations", 7, 3, run.DATA)
        b = gen.make("mutations", 7, 3, run.DATA)
        c = gen.make("mutations", 8, 3, run.DATA)
        self.assertEqual(a, b)
        self.assertNotEqual(a["ops"], c["ops"])

    def test_tail_is_mean_of_slowest_quarter(self):
        self.assertEqual(run.tail_mean([5, 1, 9, 3, 7, 2, 8, 4]), 8.5)
        self.assertEqual(run.tail_mean([4.0]), 4.0)
        self.assertEqual(run.tail_mean([]), 0.0)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def test_corrupted_suite_digest_fails_the_run(self):
        with open(gen.EXPECTED_SUITE) as f:
            exp = json.load(f)
        victim = sorted(exp)[0]
        exp[victim] = dict(exp[victim], h=format(int(exp[victim]["h"], 16) + 1, "x"))
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(exp, f)
        try:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", "suite", "--seed", "1", "--seconds", "6",
                                "--expected", f.name],
                               capture_output=True, text=True, timeout=600)
        finally:
            os.unlink(f.name)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertIn(victim, r.stdout.strip().splitlines()[-2])


if __name__ == "__main__":
    unittest.main()
