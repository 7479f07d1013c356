"""Each output check rejects a perturbed answer and passes the true one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import hashlib
import unittest

import checks


def resp(rows, err=0.0, plan="sketch"):
    return {"status": "success", "plan": {"type": plan},
            "ml_optimization": {"estimated_error": err}, "result": rows}


class ExactAnswers(unittest.TestCase):
    truth = [{"l_returnflag": "A", "nr": 150_123, "sm": 3_817_112.0},
             {"l_returnflag": "N", "nr": 299_877, "sm": 7_640_001.5}]

    def test_equal_answer_passes(self):
        p, _ = checks.check_rows(resp(copy.deepcopy(self.truth)), self.truth,
                                 ["l_returnflag"], {})
        self.assertEqual(p, [])

    def test_served_count_off_by_one_row_fails(self):
        got = copy.deepcopy(self.truth)
        got[1]["nr"] += 1
        p, _ = checks.check_rows(resp(got), self.truth, ["l_returnflag"], {})
        self.assertTrue(p)

    def test_declared_exact_answer_ignores_column_tolerance(self):
        got = copy.deepcopy(self.truth)
        got[0]["sm"] += 0.5
        # a tolerance for approximate answers does not cover an answer the
        # engine declares exact (estimated_error 0)
        p, _ = checks.check_rows(resp(got), self.truth, ["l_returnflag"],
                                 {"sm": ("rel", 0.1)})
        self.assertTrue(p)

    def test_missing_group_fails(self):
        p, _ = checks.check_rows(resp(copy.deepcopy(self.truth[:1])), self.truth,
                                 ["l_returnflag"], {})
        self.assertTrue(p)

    def test_ordered_rows_compare_in_order(self):
        truth = [{"l_partkey": 7, "c": 55}, {"l_partkey": 3, "c": 54}]
        p, _ = checks.check_rows(resp(list(reversed(truth))), truth, ["#order"], {})
        self.assertTrue(p)
        p, _ = checks.check_rows(resp(copy.deepcopy(truth)), truth, ["#order"], {})
        self.assertEqual(p, [])


class ApproximateAnswers(unittest.TestCase):
    # histogram percentile: one bucket width of the group's grid
    truth = [{"l_returnflag": "R", "pv": 38_000.0, "pv__tol": 1_640.0}]
    tol = {"pv": ("abs", "pv__tol")}

    def test_percentile_within_one_bucket_passes(self):
        p, d = checks.check_rows(resp([{"l_returnflag": "R", "pv": 39_500.0}], 0.0156),
                                 self.truth, ["l_returnflag"], self.tol)
        self.assertEqual(p, [])
        self.assertAlmostEqual(d[0], 1_500 / 38_000)

    def test_percentile_off_by_two_buckets_fails(self):
        p, _ = checks.check_rows(resp([{"l_returnflag": "R", "pv": 38_000.0 + 2 * 1_640.0}],
                                      0.0156), self.truth, ["l_returnflag"], self.tol)
        self.assertTrue(p)

    def test_estimate_outside_relative_bound_fails(self):
        truth = [{"nd": 100_000}]
        tol = {"nd": ("rel", 3 * 1.04 / 64)}
        ok, _ = checks.check_rows(resp([{"nd": 104_000}], 0.016), truth, [], tol)
        bad, _ = checks.check_rows(resp([{"nd": 105_000}], 0.016), truth, [], tol)
        self.assertEqual(ok, [])
        self.assertTrue(bad)

    def test_range_serve_outside_its_reported_bound_fails(self):
        truth = [{"n": 10_000}]
        ok, _ = checks.check_rows(resp([{"n": 10_250.0}], 0.03), truth, [], {"n": "declared"})
        bad, _ = checks.check_rows(resp([{"n": 10_350.0}], 0.03), truth, [], {"n": "declared"})
        self.assertEqual(ok, [])
        self.assertTrue(bad)

    def test_sampled_answer_outside_request_budget_fails(self):
        truth = [{"s": 1_000_000.0}]
        ok, _ = checks.check_rows(resp([{"s": 1_049_000.0, "s_ci_low": 1.0}], 0.01, "sample"),
                                  truth, [], {}, max_rel=0.05, approx_budget=True)
        bad, _ = checks.check_rows(resp([{"s": 1_051_000.0}], 0.01, "sample"),
                                   truth, [], {}, max_rel=0.05, approx_budget=True)
        self.assertEqual(ok, [])
        self.assertTrue(bad)

    def test_prefer_exact_answer_must_be_exact(self):
        truth = [{"n": 3_000_000}]
        bad, _ = checks.check_rows(resp([{"n": 3_000_001}], 0.0, "exact"),
                                   truth, [], {}, max_rel=0.05, approx_budget=True)
        self.assertTrue(bad)


class Live(unittest.TestCase):
    batch = [("A", "10.25", 7), ("A", "0.75", 8), ("N", "100.00", 7)]

    def truth(self):
        t = checks.LiveTruth()
        t.add(self.batch)
        return t

    def test_running_totals_pass(self):
        rows = [{"l_returnflag": "A", "n": 2, "s": 11.0},
                {"l_returnflag": "N", "n": 1, "s": 100.0}]
        p, _ = checks.check_live(resp(rows), self.truth(), "live_groups", {})
        self.assertEqual(p, [])

    def test_sum_off_by_one_cent_fails(self):
        rows = [{"l_returnflag": "A", "n": 2, "s": 11.01},
                {"l_returnflag": "N", "n": 1, "s": 100.0}]
        p, _ = checks.check_live(resp(rows), self.truth(), "live_groups", {})
        self.assertTrue(p)

    def test_row_counted_twice_fails(self):
        rows = [{"n": 3, "s": 11.0, "mn": 0.75, "mx": 10.25}]
        p, _ = checks.check_live(resp(rows), self.truth(), "live_filtered", {"flag": "A"})
        self.assertTrue(p)

    def test_blob_differing_by_one_byte_fails(self):
        blob = bytes(range(256)) * 16
        other = bytearray(blob)
        other[100] ^= 1
        same = hashlib.sha256(blob).hexdigest()
        self.assertEqual(checks.check_digests({"hll": (same, same)}), [])
        self.assertTrue(checks.check_digests(
            {"hll": (same, hashlib.sha256(bytes(other)).hexdigest())}))


class Operator(unittest.TestCase):
    cols = ["chunk", "n_docs", "n_tokens"]
    rows = [[0, 40, 2040], [1, 38, 2013]]

    def test_same_rows_in_another_order_pass(self):
        self.assertEqual(checks.check_operator(
            self.cols[::-1], [r[::-1] for r in self.rows[::-1]], self.cols, self.rows), [])

    def test_one_value_off_fails(self):
        got = copy.deepcopy(self.rows)
        got[1][2] += 1
        self.assertTrue(checks.check_operator(self.cols, got, self.cols, self.rows))

    def test_missing_row_fails(self):
        self.assertTrue(checks.check_operator(self.cols, self.rows[:1], self.cols, self.rows))

    def test_long_against_double_fails(self):
        got = [[0, 40, 2040.0], [1, 38, 2013]]
        self.assertTrue(checks.check_operator(self.cols, got, self.cols, self.rows))


class Scans(unittest.TestCase):
    def test_served_answer_reading_the_fact_fails(self):
        self.assertTrue(checks.check_scan(True, 0, ["lineitem.parquet"], 1,
                                          ["lineitem.parquet"]))

    def test_served_answer_reading_more_than_the_dim_fails(self):
        self.assertTrue(checks.check_scan(True, 1001, [], 1000, ["lineitem.parquet"]))
        self.assertEqual(checks.check_scan(True, 1000, [], 1000, ["lineitem.parquet"]), [])

    def test_unserved_answer_may_scan(self):
        self.assertEqual(checks.check_scan(False, 600_000, ["lineitem.parquet"], 1,
                                           ["lineitem.parquet"]), [])


if __name__ == "__main__":
    unittest.main()
