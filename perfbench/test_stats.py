"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_p90_of_100_samples_has_ten_beyond(self):
        v, beyond = stats.tail_percentile(list(range(1, 101)), 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(beyond, 10)

    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.tail_percentile([1, 2, 3, 4], 50), (2.5, 2))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail_percentile([5, 1, 4, 2, 3], 75),
                         stats.tail_percentile([1, 2, 3, 4, 5], 75))

    def test_single_sample(self):
        self.assertEqual(stats.tail_percentile([7.0], 90), (7.0, 0))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile([], 90)

    def test_p90_is_reported_only_with_ten_samples_beyond(self):
        # the last op of the fixture is a read-back, which op latency
        # statistics leave out
        raw = fake_raw(op_ms=[100.0] * 100)
        self.assertNotIn("op_p90_s", stats.diagnostics(raw))
        raw = fake_raw(op_ms=[float(i) for i in range(1, 101)] + [1e6])
        d = stats.diagnostics(raw)
        self.assertAlmostEqual(d["op_p90_s"], 0.0901)
        self.assertEqual(d["op_p90_beyond"], 10)


class RoundMedian(unittest.TestCase):
    def test_median_round_ignores_one_stalled_round(self):
        rounds = [{"rows": 1000, "start": 0.0, "end": 1000.0},
                  {"rows": 1000, "start": 0.0, "end": 1100.0},
                  {"rows": 1000, "start": 0.0, "end": 9000.0}]
        self.assertAlmostEqual(stats.round_median_rate(rounds), 1000 / 1.1)

    def test_even_count_averages_the_middle_pair(self):
        rounds = [{"rows": 10, "start": 0.0, "end": 1000.0},
                  {"rows": 10, "start": 0.0, "end": 2000.0}]
        self.assertAlmostEqual(stats.round_median_rate(rounds), 7.5)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op.a", "start": 0, "end": 100},
            {"id": 1, "parent": 0, "name": "core.X", "start": 10, "end": 40},
            {"id": 2, "parent": 1, "name": "units.Y", "start": 20, "end": 30},
            {"id": 3, "parent": 0, "name": "core.X", "start": 50, "end": 60},
        ]
        self.assertEqual(stats.self_times(spans),
                         {0: 60, 1: 20, 2: 10, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op", "start": 0, "end": 10},
            {"id": 1, "parent": 0, "name": "a", "start": 2, "end": 6},
            {"id": 2, "parent": 0, "name": "b", "start": 4, "end": 8},
        ]
        self.assertEqual(stats.self_times(spans)[0], 4)

    def test_union_length_clips(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 9), (20, 30)],
                                            2, 25), 12)

    def test_innermost_span(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 2, "end": 5}]
        self.assertEqual(stats.innermost_span(spans, 3)["id"], 1)
        self.assertEqual(stats.innermost_span(spans, 7)["id"], 0)
        self.assertIsNone(stats.innermost_span(spans, 11))


class SampledBusy(unittest.TestCase):
    def test_samples_count_to_modules_and_leave_the_client_span(self):
        spans = [{"id": 0, "parent": -1, "name": "op.b", "start": 0,
                  "end": 100},
                 {"id": 1, "parent": 0, "name": "streaming.S", "start": 10,
                  "end": 90}]
        # two threads inside operators at t=20 count twice to the modules
        # but take the instant out of the client span once
        samples = [{"at": 20.0, "module": "operators.Dedup"},
                   {"at": 20.0, "module": "operators.Similarity"},
                   {"at": 40.0, "module": "operators.Dedup"},
                   {"at": 95.0, "module": "operators.Sampling"}]
        busy, covered = stats.sampled_busy(samples, spans, 20)
        self.assertEqual(busy, {"operators.Dedup": 40,
                                "operators.Similarity": 20,
                                "operators.Sampling": 20})
        self.assertEqual(covered, {1: 40, 0: 20})

    def test_traced_run_moves_sampled_time_out_of_the_span(self):
        raw = fake_raw(op_ms=[100.0, 100.0], tracing=True)
        raw["spans"].append({"id": 2, "parent": 0,
                             "name": "streaming.StreamLakeIngest",
                             "start": 10.0, "end": 90.0})
        raw["spark"]["operator_samples"] = [
            {"at": 30.0, "module": "operators.Dedup"},
            {"at": 50.0, "module": "operators.Dedup"}]
        m = stats.per_layer(raw)
        self.assertAlmostEqual(m["operators.Dedup.busy_s"], 0.04)
        self.assertAlmostEqual(m["streaming.StreamLakeIngest.busy_s"], 0.04)


class HostFactor(unittest.TestCase):
    def test_times_scale_to_the_reference_host(self):
        raw = fake_raw(op_ms=[100.0, 300.0, 200.0, 50.0])
        raw["calib_ms"] = [99.0, 100.0, 1000.0]  # twice the reference
        m, seen = stats.end_to_end(raw), stats.measured(raw)
        self.assertAlmostEqual(m["op_p50_s"], seen["op_p50_s"] / 2)
        self.assertAlmostEqual(m["setup_s"], seen["setup_s"] / 2)
        self.assertAlmostEqual(m["cpu_s_per_krow"],
                               seen["cpu_s_per_krow"] / 2)
        self.assertAlmostEqual(m["read_p50_s"], seen["read_p50_s"] / 2)
        self.assertAlmostEqual(m["rows_per_s"], seen["rows_per_s"] * 2)
        self.assertEqual(m["write_amp"], seen["write_amp"])
        self.assertEqual(m["heap_live_mb"], seen["heap_live_mb"])


class PerRound(unittest.TestCase):
    def test_divides_by_rounds(self):
        self.assertEqual(stats.per_round(30, 3), 10.0)

    def test_zero_rounds_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.per_round(1, 0)

    def test_traced_counts_are_per_round(self):
        raw = fake_raw(op_ms=[100.0, 100.0], rounds=2, tracing=True)
        raw["spark"]["jobs"] = [
            {"start": 10.0, "end": 50.0, "tasks": 3, "run_ms": 30,
             "cpu_ns": 2e7, "shuffle_write": 0, "spill": 0},
            {"start": 110.0, "end": 500.0, "tasks": 5, "run_ms": 300,
             "cpu_ns": 2e8, "shuffle_write": 1 << 20, "spill": 0}]
        raw["spark"]["compacting"] = [120.0, 140.0, 160.0, 900.0]
        m = stats.per_layer(raw)
        self.assertEqual(m["spark.jobs_per_round"], 1.0)
        self.assertEqual(m["spark.short_jobs_per_round"], 0.5)
        self.assertEqual(m["spark.tasks_per_round"], 4.0)
        self.assertEqual(m["spark.shuffle_write_mb"], 0.5)
        # op 1 spans [0, 100] with a job over [10, 50]; op 2 spans
        # [100, 200] with a job from 110 on: 60 + 10 ms of gaps
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.035)
        # three compaction samples of 20 ms fall inside the window
        self.assertAlmostEqual(m["streaming.compact_s"], 0.03)


def fake_raw(op_ms, rounds=1, tracing=False):
    ops, t = [], 0.0
    for ms in op_ms:
        ops.append({"name": "x", "kind": "op", "round": 0, "timed": True,
                    "start": t, "end": t + ms, "ok": True, "error": ""})
        t += ms
    ops[-1]["kind"] = "read"
    per = t / rounds
    return {
        "ops": ops, "tracing": tracing, "finish_ok": True,
        "rounds": [{"rows": 100, "start": i * per, "end": (i + 1) * per}
                   for i in range(rounds)],
        "rows_per_round": 100, "input_bytes_per_round": 1000,
        "jvm_start": -5000.0, "setup_marks": {"spark_ready": -4000.0},
        "window_start": 0.0, "window_end": t,
        "cpu_ns": 1e9, "wchar": 2000, "gc_ms": 0, "heap_used": 1 << 20,
        "steal_share": 0.0, "loadavg": 1.0, "calib_ms": [50.0], "cached_peak": 0,
        "lake_rounds": [], "lake_bytes_live": 0, "lake_files_live": 0,
        "kernels": {}, "counters": {},
        "spans": [{"id": i, "parent": -1, "name": "op.x",
                   "start": o["start"], "end": o["end"]}
                  for i, o in enumerate(ops)],
        "spark": {"jobs": [], "plans": [], "progress": [], "compacting": [],
                  "operator_samples": [], "sample_ms": 20},
    }


if __name__ == "__main__":
    unittest.main()
