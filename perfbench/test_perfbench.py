"""Unit tests of the benchmark's own accounting and output checks, on
synthetic inputs. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import sys

sys.dont_write_bytecode = True

import os  # noqa: E402
import tempfile  # noqa: E402
import unittest  # noqa: E402

import pandas as pd  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import accounting  # noqa: E402
import checks  # noqa: E402


def trig(end_ms, *ends):
    return {"end_ms": end_ms, "ends": list(ends)}


class Attribution(unittest.TestCase):
    def test_one_source(self):
        # sends at offsets 0..3; trigger 0 took 0-1, trigger 1 took 2-3
        sends = [(0, 10.0 * i, 10.0 * i, i, 5) for i in range(4)]
        triggers = [trig(100.0, 1), trig(250.0, 3)]
        self.assertEqual(accounting.attribute(sends, triggers), [0, 0, 1, 1])
        lat = accounting.record_latencies(sends, triggers)
        self.assertEqual(lat, [(100.0, 5), (90.0, 5), (230.0, 5), (220.0, 5)])

    def test_two_sources_advance_separately(self):
        # source 1 has no data in the first trigger (-1), so its first
        # send belongs to the second trigger even though source 0's
        # offsets moved on in between
        sends = [(0, 0.0, 0.0, 0, 1), (1, 5.0, 5.0, 0, 2),
                 (0, 20.0, 20.0, 1, 1), (1, 25.0, 25.0, 1, 2)]
        triggers = [trig(10.0, 0, -1), trig(40.0, 1, 0), trig(60.0, 1, 1)]
        self.assertEqual(accounting.attribute(sends, triggers), [0, 1, 1, 2])

    def test_unprocessed_send_is_an_error(self):
        with self.assertRaises(ValueError):
            accounting.record_latencies([(0, 0.0, 0.0, 5, 1)], [trig(1.0, 4)])

    def test_backlog(self):
        sends = [(0, 0.0, 0.0, 0, 10), (0, 10.0, 10.0, 1, 10),
                 (0, 20.0, 21.0, 2, 10)]
        triggers = [trig(15.0, 0), trig(30.0, 2)]
        # at 15 ms: send 1 is out, not yet processed; send 2 not sent
        self.assertEqual(accounting.backlog_rows(sends, triggers, 15.0), 10)
        self.assertEqual(accounting.backlog_rows(sends, triggers, 25.0), 20)
        self.assertEqual(accounting.backlog_rows(sends, triggers, 30.0), 0)


class Generator(unittest.TestCase):
    def test_lateness_from_schedule(self):
        sends = [(0, 0.0, 0.5, 0, 1), (0, 20.0, 32.0, 1, 1),
                 (0, 40.0, 39.0, 2, 1)]
        late_max, late_p50 = accounting.lateness_ms(sends)
        self.assertEqual(late_max, 12.0)
        self.assertEqual(late_p50, 0.5)

    def test_latency_counts_from_the_due_time(self):
        # a send 30 ms late still measures from its scheduled instant
        sends = [(0, 100.0, 130.0, 0, 1)]
        self.assertEqual(accounting.record_latencies(sends, [trig(200.0, 0)]),
                         [(100.0, 1)])


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertFalse(accounting.tail_samples_ok(99, 0.9))
        self.assertTrue(accounting.tail_samples_ok(100, 0.9))
        self.assertTrue(accounting.tail_samples_ok(40, 0.75))
        self.assertFalse(accounting.tail_samples_ok(40, 0.95))

    def test_weighted_median(self):
        pairs = [(10.0, 1), (20.0, 1), (30.0, 8)]
        self.assertEqual(accounting.weighted_quantile(pairs, 0.5), 30.0)
        self.assertEqual(accounting.weighted_quantile([(5.0, 1), (7.0, 1)], 0.5), 5.0)

    def test_geomean(self):
        self.assertAlmostEqual(accounting.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(accounting.geomean([300.0, 4000.0, 300.0]),
                               (300.0 * 4000.0 * 300.0) ** (1 / 3))
        with self.assertRaises(ValueError):
            accounting.geomean([1.0, 0.0])

    def test_spread(self):
        med, q1, q3, sp = accounting.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(sp, 1.0)


MODEL = {"labels": ["PAYMENT", "CASH_OUT"], "mean": [0.5, 0.5] + [0.0] * 6,
         "std": [0.5, 0.5, 1.0, 100.0, 1.0, 1.0, 1.0, 0.0],
         "coef": [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 5.0], "intercept": -1.0}


def wire(amount, type_="PAYMENT", dest="C1", step=1):
    return {"step": step, "type": type_, "amount": amount, "nameOrig": "C0",
            "oldbalanceOrg": 0.0, "newbalanceOrig": 0.0, "nameDest": dest,
            "oldbalanceDest": 0.0, "newbalanceDest": 0.0, "isFraud": 0,
            "isFlaggedFraud": 0}


class FraudCheck(unittest.TestCase):
    def test_margin(self):
        # amount / 100 - 1; the zero-std column contributes nothing
        self.assertAlmostEqual(checks.margin(wire(300.0), MODEL), 2.0)
        self.assertAlmostEqual(checks.margin(wire(50.0, "DEBIT"), MODEL), -0.5)

    def test_alerts_match_and_mutations_fail(self):
        sent = [wire(50.0), wire(150.0), wire(250.0), wire(250.0)]
        alerts = [dict(wire(150.0), prediction=1.0), wire(250.0), wire(250.0)]
        self.assertEqual(checks.check_fraud(sent, alerts, MODEL, 4)[0], 0)
        self.assertEqual(checks.check_fraud(sent, alerts[:-1], MODEL, 4)[0], 1)
        self.assertEqual(checks.check_fraud(sent, alerts + [wire(50.0)], MODEL, 4)[0], 1)
        self.assertEqual(checks.check_fraud(sent, alerts, MODEL, 5)[0], 1)

    def test_boundary_records_are_not_compared(self):
        sent = [wire(100.0)]      # margin exactly 0
        self.assertEqual(checks.check_fraud(sent, [], MODEL, 1)[0], 0)
        self.assertEqual(checks.check_fraud(sent, [wire(100.0)], MODEL, 1)[0], 0)


class JoinCheck(unittest.TestCase):
    SENT = [(0, wire(10.0, "CASH_OUT", "C1", 5)), (1, wire(1.0, "PAYMENT", "C1", 3)),
            (1, wire(2.0, "PAYMENT", "C1", 5)), (1, wire(3.0, "PAYMENT", "C1", 2)),
            (1, wire(4.0, "PAYMENT", "C1", 6)), (1, wire(5.0, "PAYMENT", "C2", 5))]

    def test_interval_bounds(self):
        pairs = checks.interval_join([r for s, r in self.SENT if s == 0],
                                     [r for s, r in self.SENT if s == 1])
        self.assertEqual(sorted(pairs), [("C1", 5, 10.0, 3, 1.0), ("C1", 5, 10.0, 5, 2.0)])

    def test_added_pair_and_empty_join_fail(self):
        good = [["C1", 5, 10.0, 3, 1.0], ["C1", 5, 10.0, 5, 2.0]]
        self.assertEqual(checks.check_join(self.SENT, good)[0], 0)
        self.assertEqual(checks.check_join(self.SENT, good + [["C1", 5, 10.0, 6, 4.0]])[0], 1)
        self.assertEqual(checks.check_join([], [])[0], 1)


class QueryCheck(unittest.TestCase):
    def test_altered_row_fails(self):
        df = pd.DataFrame({"b": [2.5, 1.5], "a": [1, 2]})
        expected = {"q": {"rows": 2, "hash": checks.frame_hash(df)}}
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "q"))
            path = os.path.join(d, "q", "part-0.parquet")
            df.iloc[::-1].to_parquet(path)    # row order does not matter
            self.assertEqual(checks.check_queries(d, ["q"], expected)[0], 0)
            self.assertEqual(checks.check_queries(d, ["q"], {})[0], 1)
            df.assign(b=[2.5, 1.5000001]).to_parquet(path)
            self.assertEqual(checks.check_queries(d, ["q"], expected)[0], 1)
            os.remove(path)
            self.assertEqual(checks.check_queries(d, ["q"], expected)[0], 1)


if __name__ == "__main__":
    unittest.main()
