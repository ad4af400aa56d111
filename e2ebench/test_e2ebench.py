"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import unittest

from lake_model import LakeModel
from stats import self_times, tail_percentile, union_length


class TailPercentileTest(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(tail_percentile(xs), (90, 90))   # 91..100 lie beyond
        self.assertEqual(tail_percentile(xs[:99]), (89, 89))

    def test_falls_back_to_highest_supported_percentile(self):
        xs = [float(x) for x in range(40, 0, -1)]         # order does not matter
        pct, v = tail_percentile(xs)
        self.assertEqual(pct, 75)                         # rank 30 of 40, 10 beyond
        self.assertEqual(v, 30.0)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_none_without_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile([1.0] * 10))
        self.assertEqual(tail_percentile(list(range(11))), (9, 0))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "kind": "k", "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(union_length([(0, 1), (5, 7), (6, 9), (8, 8.5)]), 5)
        self.assertEqual(union_length([]), 0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60)]
        st = self_times(spans)
        self.assertEqual(st[1], 50)                       # 100 - |[10, 60]|
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 120), span(3, 1, -5, 5),
                 span(4, 2, 95, 130)]
        st = self_times(spans)
        self.assertEqual(st[1], 85)                       # covered [0, 5] and [90, 100]
        self.assertEqual(st[2], 5)                        # child covers [95, 120]

    def test_grandchildren_do_not_reach_grandparent(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 4), span(3, 2, 0, 4)]
        self.assertEqual(self_times(spans), {1: 6, 2: 0, 3: 4})


def row(k, user, value, ts=0):
    return (k, ts, user, "view", value, "{}")


class LakeModelTest(unittest.TestCase):
    def test_hand_checked_commit_sequence(self):
        m = LakeModel([row(1, 10, 1.00), row(2, 20, 2.50), row(3, 30, 0.05)])
        self.assertEqual(m.summary(), {"n": 3, "sum_id": 6, "sum_user": 60, "sum_cents": 355})
        self.assertEqual(m.version, 1)

        m.append([row(4, 40, 4.00)])
        self.assertEqual(m.version, 2)
        self.assertEqual(m.summary(), {"n": 4, "sum_id": 10, "sum_user": 100, "sum_cents": 755})
        self.assertEqual(m.diff(), {"add": {"n": 1, "sum_id": 4, "sum_cents": 400}})

        # upsert: key 2 changes value, key 5 is new
        m.merge([row(2, 20, 9.99), row(5, 50, 0.01)])
        self.assertEqual(m.summary(), {"n": 5, "sum_id": 15, "sum_user": 150, "sum_cents": 1505})
        self.assertEqual(m.diff(), {"add": {"n": 2, "sum_id": 7, "sum_cents": 1000},
                                    "del": {"n": 1, "sum_id": 2, "sum_cents": 250}})

        # a merge that rewrites a row unchanged is no change to the diff read
        m.merge([row(3, 30, 0.05), row(4, 41, 4.00)])
        self.assertEqual(m.diff(), {"add": {"n": 1, "sum_id": 4, "sum_cents": 400},
                                    "del": {"n": 1, "sum_id": 4, "sum_cents": 400}})
        self.assertEqual(m.summary()["sum_user"], 151)

        # deleting a missing key is a no-op for that key
        m.delete([1, 9])
        self.assertEqual(m.summary(), {"n": 4, "sum_id": 14, "sum_user": 141, "sum_cents": 1405})
        self.assertEqual(m.diff(), {"del": {"n": 1, "sum_id": 1, "sum_cents": 100}})
        self.assertEqual(m.summary(2, 4), {"n": 2, "sum_id": 5, "sum_user": 50, "sum_cents": 1004})

        m.compact()
        self.assertEqual(m.version, 6)
        self.assertEqual(m.diff(), {})
        self.assertEqual(m.summary()["n"], 4)

    def test_append_of_live_key_is_refused(self):
        m = LakeModel([row(1, 1, 1.0)])
        with self.assertRaises(AssertionError):
            m.append([row(1, 1, 2.0)])


if __name__ == "__main__":
    unittest.main()
