"""Tests of the benchmark's own arithmetic and input derivation.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import shutil
import unittest

import inputs
import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
SEED_DATA = os.path.join(BENCH, "data", "sf0.01")


class TailTest(unittest.TestCase):
    def test_ten_calls_beyond_the_tail(self):
        idx, pct, beyond = stats.tail_rank(42)
        self.assertEqual((idx, beyond), (31, 10))
        self.assertAlmostEqual(pct, 100.0 * 32 / 42)

    def test_short_runs_keep_a_third_beyond(self):
        self.assertEqual(stats.tail_rank(6)[::2], (3, 2))
        self.assertEqual(stats.tail_rank(30)[::2], (19, 10))
        self.assertEqual(stats.tail_rank(1)[::2], (0, 0))

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order is irrelevant
        tail, pct, beyond = stats.call_tail(list(reversed(xs)))
        self.assertEqual((tail, pct, beyond), (90.0, 90.0, 10))

    def test_no_calls(self):
        with self.assertRaises(ValueError):
            stats.tail_rank(0)


class GeomeanTest(unittest.TestCase):
    def test_uses_each_keys_median(self):
        g = stats.key_geomean({"a": [1.0, 4.0, 100.0], "b": [1.0]})
        self.assertAlmostEqual(g, 2.0)

    def test_weights_keys_equally(self):
        g = stats.key_geomean({"cheap": [0.01], "dear": [100.0]})
        self.assertAlmostEqual(g, 1.0)
        self.assertAlmostEqual(stats.key_geomean({"cheap": [0.005], "dear": [100.0]}), math.sqrt(0.5))


class SelfTimeTest(unittest.TestCase):
    def test_partition_adds_up_to_the_call(self):
        spans = [("trigger", 10, 40), ("job", 20, 60), ("phase.planning", 5, 25), ("job", 70, 80)]
        st = stats.self_times(0, 100, spans)
        self.assertEqual(st, {"streaming": 30, "exec": 30, "plans": 5, "operators": 35})
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_spans_are_clipped_to_the_call(self):
        st = stats.self_times(10, 20, [("job", 0, 15), ("phase.analysis", 18, 30)])
        self.assertEqual(st, {"streaming": 0, "exec": 5, "plans": 2, "operators": 3})

    def test_overlapping_spans_of_one_layer_count_once(self):
        st = stats.self_times(0, 10, [("job", 0, 6), ("job", 2, 8)])
        self.assertEqual(st["exec"], 8)
        self.assertEqual(stats.union_length([(0, 6), (2, 8), (9, 9), (9, 10)]), 9)

    def test_unknown_spans_are_driver_time(self):
        self.assertEqual(stats.self_times(0, 4, [("other", 0, 4)])["operators"], 4)

    def test_layer_metrics_of_a_trace(self):
        call = {"id": "0:k", "key": "k", "lap": 0, "start": 0.0, "built": 400.0, "end": 1000.0,
                "counters": {"exec.task_run_s": 2.0, "exec.peak_task_mem_bytes": 7.0}}
        spans = [{"name": "job", "start": 100.0, "end": 300.0, "call": "0:k"},
                 {"name": "job", "start": 500.0, "end": 900.0, "call": "0:k"},
                 {"name": "phase.planning", "start": 450.0, "end": 520.0, "call": "0:k"}]
        m, per_key, table = stats.layer_metrics({"calls": [call], "spans": spans}, cpus=4)
        self.assertEqual(m["operators.eager_jobs"], 1)
        self.assertAlmostEqual(m["operators.eager_job_s"], 0.2)
        self.assertAlmostEqual(m["operators.build_s"], 0.4)
        self.assertAlmostEqual(m["plans.planning_ms"], 70)
        self.assertAlmostEqual(table["exec"], 0.6)
        self.assertAlmostEqual(table["plans"], 0.05)
        self.assertAlmostEqual(m["operators.driver_self_s"], 0.35)
        self.assertAlmostEqual(sum(table.values()), m["call_s"])
        self.assertAlmostEqual(m["exec.busy_frac"], 2.0 / (4 * 1.0))
        self.assertEqual(per_key["k"]["exec.jobs"], 2)

    def test_peaks_are_maxima_over_a_lap(self):
        calls = [{"id": f"0:{k}", "key": k, "lap": 0, "start": 0.0, "built": 0.0, "end": 1.0,
                  "counters": {"exec.peak_task_mem_bytes": v, "exec.tasks": 1}} for k, v in (("a", 5), ("b", 3))]
        m, _, _ = stats.layer_metrics({"calls": calls, "spans": []}, cpus=1)
        self.assertEqual(m["exec.peak_task_mem_bytes"], 5)
        self.assertEqual(m["exec.tasks"], 2)


class InputsTest(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(BENCH, ".work", f"test-{os.getpid()}")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def make(self, name, seed, lap, k=1):
        d = os.path.join(self.dir, name)
        inputs.make_lap_dir(SEED_DATA, d, seed, lap, k=k)
        return inputs.dir_digest(d)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.make("a", 7, "lap0"), self.make("b", 7, "lap0"))
        self.assertEqual(self.make("c", 7, "lap1", k=2), self.make("d", 7, "lap1", k=2))

    def test_seed_and_lap_change_the_inputs(self):
        base = self.make("a", 7, "lap0")
        self.assertNotEqual(base, self.make("b", 8, "lap0"))
        self.assertNotEqual(base, self.make("c", 7, "lap1"))

    def test_fresh_ids_keep_rows_and_join_keys(self):
        sizes = inputs.make_lap_dir(SEED_DATA, os.path.join(self.dir, "k2"), 3, "lap0", k=2)
        seed_sizes = inputs.table_sizes(SEED_DATA)
        for t in inputs.TABLES:
            factor = 2 if t in inputs.FRESH_IDS else 1
            self.assertEqual(sizes[t][0], factor * seed_sizes[t][0], t)
        import duckdb
        d = os.path.join(self.dir, "k2")
        orphans = duckdb.sql(f"SELECT count(*) FROM '{d}/lineitem.parquet' l ANTI JOIN "
                             f"'{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey").fetchone()[0]
        self.assertEqual(orphans, 0)


if __name__ == "__main__":
    unittest.main()
