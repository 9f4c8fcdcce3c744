"""The benchmark's own test: a wrong expectation must be reported as a
failed op, never ignored.

    python3 perfbench/test_run.py      (from the repository root)
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class WrongExpectationIsFailed(unittest.TestCase):

    def test_query_fingerprint_mismatch(self):
        # two cheap lazy queries (the paper's DQ recasts) in place of the heads
        def tweak(spec):
            spec["queries"] = ["q15_dq_quarantine", "q16_unit_conversion"]
            spec["expected"]["q16_unit_conversion"] = "0:0"
        res = run.run_one("ops_iterative", 1, 0.1, 0, tweak)
        self.assertEqual(res["failed"], 1, res["report"]["failures"])
        self.assertIn("q16_unit_conversion", res["report"]["failures"][0])
        self.assertEqual(res["report"]["samples"], 1)

    def test_etl_count_mismatch(self):
        def tweak(spec):
            spec["expected"]["EC"]["clean"] += 1
        res = run.run_one("etl_countries", 1, 0.1, 0, tweak)
        self.assertEqual(res["failed"], 1, res["report"]["failures"])
        self.assertTrue(res["report"]["failures"][0].startswith("EC:"))


if __name__ == "__main__":
    unittest.main()
