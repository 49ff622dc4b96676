"""Tests of the benchmark's statistics and failure accounting.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 31)]  # 30 samples
        # p66 is rank 20 (10 beyond); p67 is rank 21 (9 beyond)
        self.assertEqual(run.tail_percentile(xs), (66, 20.0))

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(1000, 0, -1)]
        p, v = run.tail_percentile(xs)
        self.assertEqual((p, v), (99, 990.0))
        self.assertGreaterEqual(1000 - v, 10)

    def test_too_few_samples(self):
        self.assertIsNone(run.tail_percentile([1.0] * 10))
        self.assertEqual(run.tail_percentile([1.0] * 11), (9, 1.0))


class FailAccounting(unittest.TestCase):
    def record(self, keys=("a", "b", "boom"), failures=(), check_failures=()):
        return {"keys": list(keys),
                "samples": [{"key": k, "pass": p, "seconds": 1.0}
                            for p in (1, 2) for k in ("a", "b")],
                "failures": list(failures),
                "check_failures": list(check_failures)}

    def test_clean_run(self):
        rec = self.record(keys=("a", "b"))
        self.assertEqual(run.fail_accounting(rec, {}), (6, 0))

    def test_planted_throw_counts_and_adds_no_sample(self):
        rec = self.record(
            failures=[{"key": "boom", "pass": p, "phase": "exec.action"}
                      for p in (0, 1, 2)],
            check_failures=[{"key": "boom", "error": "planted"}])
        # the set-up pass (0) is not an attempt; passes 1 and 2 and the
        # check pass are, and none of them adds a latency sample
        self.assertEqual(run.fail_accounting(rec, {}), (9, 3))
        self.assertNotIn("boom", {s["key"] for s in rec["samples"]})

    def test_mismatch_counts_once(self):
        rec = self.record(check_failures=[{"key": "boom", "error": "x"}])
        self.assertEqual(run.fail_accounting(rec, {"a": "differs", "boom": "x"}),
                         (7, 2))


if __name__ == "__main__":
    unittest.main()
