import unittest

from tests.util import BENCH  # noqa: F401  (puts the benchmark on sys.path)
import stats


def span(i, parent, start, end, name="x", op=1):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name, "op": op}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct, beyond, n = stats.tail(list(range(11)))
        self.assertEqual((value, beyond, n), (0, 10, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_highest_such_percentile(self):
        xs = list(range(100, 0, -1))  # unsorted input
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, pct, beyond, n), (90, 90.0, 10, 100))
        self.assertEqual(sum(1 for x in xs if x > value), beyond)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70),
                 span(4, 1, 90, 130)]  # the last child runs past its parent
        self.assertEqual(stats.self_times(spans)[1], 100 - 60 - 10)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 40, 10))

    def test_coverage(self):
        spans = [span(1, -1, 0, 100, "op"), span(2, 1, 0, 30), span(3, 1, 20, 60)]
        self.assertAlmostEqual(stats.coverage(spans[0], spans), 0.6)


class AccountingTest(unittest.TestCase):
    def ops(self):
        return [{"op": i, "phase": "timed"} for i in range(1, 5)]

    def test_clean_run(self):
        self.assertEqual(stats.accounting(self.ops(), {}), (4, 0, 0.0, 0))

    def test_thrown_op_fails_the_run(self):
        ops = self.ops()
        ops[1]["error"] = "java.lang.IllegalStateException: op 1 deliberately broken"
        attempted, failed, rate, code = stats.accounting(ops, {})
        self.assertEqual((attempted, failed, rate, code), (4, 1, 0.25, 1))

    def test_check_failure_and_throw_on_one_op_count_once(self):
        ops = self.ops()
        ops[0]["error"] = "boom"
        self.assertEqual(stats.accounting(ops, {1: "wrong rows", 3: "wrong hash"})[:3],
                         (4, 2, 0.5))

    def test_run_level_error_fails_the_run(self):
        self.assertEqual(stats.accounting(self.ops(), {}, ["check pass threw"])[3], 1)


if __name__ == "__main__":
    unittest.main()
