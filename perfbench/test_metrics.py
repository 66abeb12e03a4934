"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import unittest

import metrics


def op(n, name, pass_=1, t=1.0, chk=(3, 7, "11"), error=None):
    o = {"op": n, "pass": pass_, "i": 0, "name": name}
    if error is not None:
        o["error"] = error
    else:
        o.update({"t_s": t, "rows": chk[0], "xor": chk[1], "sum": chk[2]})
    return o


EXPECTED = {"q_a": {"rows": 3, "xor": 7, "sum": "11"},
            "q_b": {"rows": 1, "xor": 2, "sum": "3"}}


def raw(ops, passes, batches=()):
    return {"setup_s": 5.0, "vm_hwm_kb": 2048, "ops": ops,
            "passes": [{"pass": p, "wall_s": w, "timed": p > 0, "traced": False}
                       for p, w in passes],
            "batches": list(batches)}


class TailTest(unittest.TestCase):
    def test_highest_sample_with_ten_beyond(self):
        value, pct, n = metrics.tail(range(1, 101))
        self.assertEqual((value, pct, n), (90, 90, 100))
        value, pct, n = metrics.tail(range(1, 37))
        self.assertEqual(n, 36)
        self.assertEqual(sum(1 for x in range(1, 37) if x > value), 10)
        self.assertEqual(pct, 72)

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail(range(20)), (19, 100, 20))
        self.assertEqual(metrics.tail([]), (None, None, 0))

    def test_never_below_the_median(self):
        for n in range(1, 120):
            xs = list(range(n))
            self.assertGreaterEqual(metrics.tail(xs)[0], xs[(n - 1) // 2])


class OrderTest(unittest.TestCase):
    names = ["q1", "q2", "q3", "q4", "q5", "q6"]

    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders(7, self.names, 5),
                         metrics.pass_orders(7, self.names, 5))

    def test_seed_changes_order_not_content(self):
        a = metrics.pass_orders(1, self.names, 4)
        b = metrics.pass_orders(2, self.names, 4)
        self.assertNotEqual(a, b)
        for order in a + b:
            self.assertEqual(sorted(order), sorted(self.names))


class JudgeTest(unittest.TestCase):
    def test_matching_checksums_pass(self):
        judged = metrics.judge([op(1, "q_a"), op(2, "q_b", chk=(1, 2, "3"))], EXPECTED)
        self.assertTrue(all(ok for _, ok, _ in judged))

    def test_mismatch_is_a_failure(self):
        (_, ok, why), = metrics.judge([op(1, "q_a", chk=(3, 8, "11"))], EXPECTED)
        self.assertFalse(ok)
        self.assertIn("mismatch", why)

    def test_checksum_changing_between_passes_is_a_failure(self):
        judged = metrics.judge([op(1, "q_a", 0), op(2, "q_a", 1, chk=(3, 7, "12"))],
                               {"q_a": {"rows": 3, "xor": 7, "sum": "12"}})
        self.assertFalse(judged[1][1])
        self.assertIn("changed between passes", judged[1][2])

    def test_unknown_query_is_a_failure(self):
        (_, ok, why), = metrics.judge([op(1, "q_new")], EXPECTED)
        self.assertFalse(ok)


class EndToEndTest(unittest.TestCase):
    def test_thrown_query_is_a_failure_and_never_a_time(self):
        ops = [op(1, "q_a", 0, 9.0), op(2, "q_b", 0, 9.0, (1, 2, "3")),
               op(3, "q_a", 1, 1.0), op(4, "q_b", 1, error="java.lang.RuntimeException: boom"),
               op(5, "q_a", 2, 2.0), op(6, "q_b", 2, 4.0, (1, 2, "3"))]
        judged = metrics.judge(ops, EXPECTED)
        self.assertEqual([ok for _, ok, _ in judged], [True, True, True, False, True, True])
        self.assertIn("boom", judged[3][2])
        m, r, info = metrics.end_to_end(raw(ops, [(0, 20.0), (1, 1.5), (2, 6.0)]), judged)
        # pass 1 had a failure: only pass 2 gives a pass time, and the run
        # gives no workload time
        self.assertEqual(r["pass_s"][0], 6.0)
        self.assertIsNone(m["workload_s"][0])
        # the warm-up (pass 0) and the thrown op give no query time
        self.assertEqual(info["query_tail"]["samples"], 3)
        self.assertEqual(r["query_p50_s"][0], 2.0)
        self.assertAlmostEqual(r["failed_frac"][0], 1 / 6)

    def test_metrics_from_timed_passes_only(self):
        ops = [op(1, "q_a", 0, 9.0), op(2, "q_a", 1, 1.0), op(3, "q_a", 2, 3.0)]
        batches = [{"op": 1, "trigger_s": 5.0}, {"op": 2, "trigger_s": 0.2},
                   {"op": 3, "trigger_s": 0.4}]
        m, r, _ = metrics.end_to_end(raw(ops, [(0, 9.0), (1, 1.0), (2, 3.0)], batches),
                                     metrics.judge(ops, EXPECTED))
        self.assertEqual(m["setup_s"][0], 5.0)
        self.assertEqual(r["pass_s"][0], 2.0)
        self.assertEqual(m["workload_s"][0], 13.0)
        self.assertAlmostEqual(r["batch_p50_s"][0], 0.3)
        self.assertEqual(r["batch_tail_s"][0], 0.4)
        self.assertEqual(m["rss_peak_mb"][0], 2.0)
        self.assertEqual(r["failed_frac"][0], 0.0)


if __name__ == "__main__":
    unittest.main()
