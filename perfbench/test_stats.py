"""Self-test of the benchmark's metric arithmetic. Needs no Spark:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def rec(step, dur, ok=True, op=True, pass_=0):
    return {"pass": pass_, "step": step, "dur_s": dur, "ok": ok, "op": op}


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n, beyond = stats.tail(xs)
        self.assertEqual((v, pct, n, beyond), (90, 90.0, 100, 10))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_qualifying_percentile_for_odd_counts(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0, 13.0]
        v, pct, n, beyond = stats.tail(xs)
        self.assertEqual((v, n, beyond), (3.0, 13, 10))
        self.assertAlmostEqual(pct, 100 * 3 / 13)

    def test_too_few_samples_reports_the_maximum_with_none_beyond(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3, 0))
        self.assertEqual(stats.tail([float(i) for i in range(10)])[3], 0)
        self.assertEqual(stats.tail([float(i) for i in range(11)])[:3], (0.0, 100 / 11, 11))


class AccountTest(unittest.TestCase):
    def test_thrown_operation_counts_failed_and_never_enters_a_median(self):
        records = [
            rec("a", 1.0), rec("b", 100.0, ok=False), rec("__pass__", 101.0, op=False),
            rec("a", 2.0, pass_=1), rec("b", 3.0, pass_=1), rec("__pass__", 5.0, op=False, pass_=1),
        ]
        attempted, failed, ops, passes = stats.account(records)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(sorted(ops), [1.0, 2.0, 3.0])
        self.assertEqual(passes, [5.0])  # the pass holding the failure is left out

    def test_failed_output_check_fails_every_step_it_names(self):
        records = [rec("q01_x", 1.0), rec("q03_y", 2.0), rec("q01_x", 1.5, pass_=1)]
        attempted, failed, ops, _ = stats.account(records, failed_prefixes=["q01"])
        self.assertEqual((attempted, failed, ops), (3, 2, [2.0]))

    def test_non_operation_steps_count_as_attempted_but_not_as_op_latency(self):
        records = [rec("index.build", 3.0, op=False), rec("index.link.b0", 1.0)]
        attempted, failed, ops, _ = stats.account(records)
        self.assertEqual((attempted, failed, ops), (2, 0, [1.0]))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)

    def test_self_time_subtracts_covered_part_once(self):
        # span 0..10, jobs 1..4 and 3..6 overlap (5 covered), job 8..12 is
        # clipped to 8..10 (2 covered): self time 10 - 7 = 3
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]), 3)

    def test_span_without_children_is_all_self_time(self):
        self.assertEqual(stats.self_time(2.5, 4.0, []), 1.5)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 5), (25, 30)]), 10)


if __name__ == "__main__":
    unittest.main()
