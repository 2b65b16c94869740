"""Self-tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import checks
import gen
import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(metrics.percentile(v, 50), 50)
        self.assertEqual(metrics.percentile(v, 90), 90)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)
        self.assertEqual(metrics.percentile(list(reversed(v)), 90), 90)

    def test_resolved_needs_ten_beyond(self):
        self.assertTrue(metrics.resolved(100, 90))
        self.assertFalse(metrics.resolved(99, 90))
        self.assertTrue(metrics.resolved(20, 50))
        self.assertFalse(metrics.resolved(19, 50))

    def test_highest_resolved(self):
        self.assertEqual(metrics.highest_resolved(100), 90)
        self.assertEqual(metrics.highest_resolved(1000), 99)
        self.assertEqual(metrics.highest_resolved(40), 75)
        self.assertIsNone(metrics.highest_resolved(10))

    def test_self_time_subtracts_child_coverage(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
                 {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
                 {"id": 4, "parent": 2, "start": 1.0, "end": 2.0}]
        own = metrics.self_times(spans)
        self.assertEqual(own[1], 5.0)
        self.assertEqual(own[2], 2.0)
        self.assertEqual(own[3], 3.0)


def _digest(directory):
    h = hashlib.sha1()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.tables(a, 0.001, 5)
            gen.tables(b, 0.001, 5)
            gen.tables(c, 0.001, 6)
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))

    def test_streams_same_seed_same_frames(self):
        for f in (lambda s: gen.snapshot_frames(gen.snapshots(s, 30)),
                  lambda s: gen.district_batches(s, 2, 3),
                  lambda s: gen.subscribers(s),
                  lambda s: gen.get_schedule(s, 2.0, 10)):
            self.assertEqual(f(3), f(3))
            self.assertNotEqual(f(3), f(4))

    def test_snapshots_have_39_keys(self):
        snaps = gen.snapshots(1, 3)
        self.assertTrue(all(len(s) == 39 for s in snaps))
        self.assertEqual(len(gen.districts()), 740)

    def test_sample_covers_every_family(self):
        reg = [{"family": f"F{i % 5}", "name": f"q{i}"} for i in range(40)]
        costs = {f"q{i}": float(i) for i in range(40)}
        s1 = gen.sample_queries(reg, costs, 9, 2)
        self.assertEqual(s1, gen.sample_queries(reg, costs, 9, 2))
        self.assertEqual(len(s1), 10)
        fams = {f"F{int(q[1:]) % 5}" for q in s1}
        self.assertEqual(len(fams), 5)
        self.assertNotIn("q3", gen.sample_queries(reg, costs, 9, 2, {"q3"}))


class Fingerprint(unittest.TestCase):

    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.vl = checks._verify_local(ROOT)

    def fp(self, df):
        return checks.fingerprint(df, self.vl)[2]

    def test_row_and_column_order_do_not_matter(self):
        pd = self.pd
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
        b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(self.fp(a), self.fp(b))

    def test_values_and_types_matter(self):
        pd = self.pd
        a = pd.DataFrame({"k": [1, 2, 3]})
        self.assertNotEqual(self.fp(a), self.fp(pd.DataFrame({"k": [1, 2, 4]})))
        self.assertNotEqual(self.fp(a),
                            self.fp(pd.DataFrame({"k": [1.0, 2.0, 3.0]})))


class LivePrediction(unittest.TestCase):

    def test_java_double_rendering(self):
        self.assertEqual(checks.java_double(15), "15.0")
        self.assertEqual(checks.java_double(-5), "-5.0")
        self.assertEqual(checks.java_double(0), "0.0")
        self.assertEqual(checks.java_double(12345678), "1.2345678E7")
        self.assertEqual(checks.java_double(10000000), "1.0E7")

    def test_spark_round_half_up(self):
        self.assertEqual(checks.spark_round(2.5), 3)
        self.assertEqual(checks.spark_round(-2.5), -3)
        self.assertEqual(checks.spark_round(2.4999), 2)

    def test_serving_row_matches_endpoint_semantics(self):
        # LiveEndpointSpec's example: alpha totals 15 on day 1 and 20 on
        # day 2 -> delta 5, doubling rate round(70*20/500) = 3
        day1, day2 = 1585699200000, 1585785600000
        snaps = [[("alpha", day1, 15, 0, 0), ("Total", day1, 15, 0, 0)],
                 [("alpha", day2, 35, 0, 0), ("Total", day2, 35, 0, 0)]]
        m = checks.LiveModel(snaps)
        self.assertEqual(
            m.body("/state/alpha", 1),
            '{"state":"alpha","day":"2020-04-02","total":20.0,'
            '"delta":5.0,"doubling_rate":3}')
        self.assertEqual(m.body("/state/alpha", 0),
                         '{"state":"alpha","day":"2020-04-01","total":15.0,'
                         '"delta":15.0,"doubling_rate":1}')

    def test_alert_lines_name_their_snapshot(self):
        snaps = gen.snapshots(2, 40)
        subs = gen.subscribers(2)
        m = checks.LiveModel(snaps)
        seen = {}
        for j in range(1, 40):
            for pair in m.alerts(j, subs):
                self.assertNotIn(pair, seen)
                seen[pair] = j
        self.assertTrue(seen)


if __name__ == "__main__":
    unittest.main()
