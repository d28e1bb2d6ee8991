"""Tests of the benchmark's metric code on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import metrics as M
import run


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_median(self):
        self.assertIsNone(M.tail(range(19)))
        t = M.tail(range(1, 21))
        self.assertEqual((t["percentile"], t["value"], t["n"]), (50.0, 10, 20))

    def test_picks_the_highest_percentile_with_ten_beyond(self):
        t = M.tail(range(1, 101))
        self.assertEqual((t["percentile"], t["value"], t["n"]), (90.0, 90, 100))
        t = M.tail(range(1, 1001))
        self.assertEqual((t["percentile"], t["value"], t["n"]), (99.0, 990, 1000))
        t = M.tail(range(1, 10001))
        self.assertEqual((t["percentile"], t["value"]), (99.9, 9990))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))
        self.assertEqual(M.tail(xs)["n"], 40)


class IdleCoreTest(unittest.TestCase):
    def test_formula(self):
        # 6 s of task time in 2 s of exec wall on 4 cores: 2 of 8 core-seconds idle.
        self.assertAlmostEqual(M.idle_core_frac(6.0, 2.0, 4), 0.25)
        self.assertAlmostEqual(M.idle_core_frac(8.0, 2.0, 4), 0.0)
        self.assertIsNone(M.idle_core_frac(1.0, 0.0, 4))

    def test_layer_metrics_use_exec_spans_only(self):
        ops = [{"op": "a", "build": {"s": 9.0, "task_ms": 9000},
                "exec": {"s": 1.0, "task_ms": 3000, "stages": 2}},
               {"op": "b", "exec": {"s": 1.0, "task_ms": 3000, "stages": 2}}]
        m = run.layer_metrics(ops, cores=4)
        self.assertAlmostEqual(m["exec.idle_core_frac"], 1 - 6.0 / (2.0 * 4))
        self.assertAlmostEqual(m["exec.s_per_stage"], 0.5)
        self.assertAlmostEqual(m["queries.build_s"], 9.0)


class FailedFracTest(unittest.TestCase):
    def test_throw_and_mismatch_both_count(self):
        ops = [{"op": "a", "ok": True}, {"op": "b", "ok": True},
               {"op": "c", "ok": False}, {"op": "d", "ok": True}]
        self.assertEqual(M.failed_frac(ops, {}), 0.25)
        self.assertEqual(M.failed_frac(ops, {"b": "value hash mismatch"}), 0.5)
        # A mismatching op fails every time it ran; a throw counts once.
        self.assertEqual(M.failed_frac(ops + ops, {"c": "x"}), 0.25)

    def test_all_good_is_zero(self):
        self.assertEqual(M.failed_frac([{"op": "a", "ok": True}] * 3, {}), 0.0)


class WriteAmpTest(unittest.TestCase):
    def test_from_directory_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            src, out = os.path.join(d, "src"), os.path.join(d, "out", "gold", "t")
            os.makedirs(src)
            os.makedirs(out)
            open(os.path.join(src, "a.parquet"), "wb").write(b"x" * 1000)
            open(os.path.join(out, "part-0.parquet"), "wb").write(b"y" * 2000)
            open(os.path.join(out, "_SUCCESS"), "wb").write(b"z" * 500)
            written = M.dir_bytes(os.path.join(d, "out"))
            self.assertEqual(written, 2500)
            self.assertAlmostEqual(M.write_amp(written, M.dir_bytes(src)), 2.5)
            self.assertIsNone(M.write_amp(written, 0))


if __name__ == "__main__":
    unittest.main()
