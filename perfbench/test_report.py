"""Unit tests of the benchmark's own pieces: python3 -m unittest discover perfbench"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import report  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def span(id, parent, kind, start, end):
    return {"id": id, "parent": parent, "name": f"s{id}", "kind": kind,
            "start": start, "end": end}


class TailPercentileRule(unittest.TestCase):
    def test_no_tail_without_ten_samples_beyond(self):
        for n in (1, 2, 13, 26, 37):
            self.assertIsNone(report.tail_percentile([float(i) for i in range(n)]), n)

    def test_published_tail_has_ten_samples_beyond(self):
        for n in (38, 100, 250, 1000):
            xs = [float(i) for i in range(n)]
            q, value = report.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), report.MIN_BEYOND)

    def test_highest_tail_is_chosen(self):
        self.assertEqual(report.tail_percentile([float(i) for i in range(100)])[0], 0.9)
        self.assertEqual(report.tail_percentile([float(i) for i in range(1000)])[0], 0.99)


class SelfTimes(unittest.TestCase):
    def test_overlapping_jobs_and_orphans_sum_to_root(self):
        spans = [span(1, -1, "workload", 0, 100),
                 span(2, 1, "call", 10, 50),
                 span(3, 2, "job", 20, 30),
                 span(4, 2, "job", 25, 45),   # overlaps job 3
                 span(5, 1, "call", 60, 90),
                 span(6, -1, "job", 95, 120),  # no parent; runs past the root
                 span(7, -1, "job", -20, -10)]  # before the root
        st = report.self_times(spans)
        self.assertEqual(st, {1: 25, 2: 15, 3: 5, 4: 20, 5: 30, 6: 5, 7: 0})
        self.assertEqual(sum(st.values()), 100)

    def test_child_clipped_to_parent(self):
        st = report.self_times([span(1, -1, "workload", 0, 10),
                                span(2, 1, "call", 2, 4),
                                span(3, 2, "job", 3, 8)])
        self.assertEqual(st, {1: 8, 2: 1, 3: 1})

    def test_union_length(self):
        self.assertEqual(report.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(report.union_length([]), 0)


def record():
    return {
        "batch_s": 12.5, "steps": [0.5, 0.7, 0.6], "steps_s": 1.8,
        "peak_heap_bytes": 300 * report.MB, "landed_bytes": 2 * report.MB,
        "cores": 4, "samples": [["query.q1_s", 0.5], ["query.q1_s", 0.7]],
        "counts": [["streaming.state_mb", 0.25]], "triggers": [],
        "engine": {"jobs": 3, "stages": 4, "tasks": 9, "task_failures": 0,
                   "task_run_ms": 4000, "task_cpu_ns": 2e9, "gc_ms": 50,
                   "sched_wait_ms": 100, "shuffle_write_bytes": report.MB,
                   "shuffle_read_bytes": report.MB, "spill_bytes": 0,
                   "input_bytes": 3 * report.MB, "output_bytes": report.MB,
                   "planning_ms": 250.0},
        "spans": [span(1, -1, "workload", 0, 10 ** 10), span(2, 1, "call", 0, 6 * 10 ** 9),
                  span(3, 2, "job", 10 ** 9, 3 * 10 ** 9)],
    }


class Printer(unittest.TestCase):
    def test_end_to_end_names_and_units_match_benchmark_json(self):
        m = report.end_to_end(record(), 4.25)
        self.assertEqual({k: v["unit"] for k, v in m.items()},
                         {x["name"]: x["unit"] for x in SPEC["end_to_end"]})
        self.assertTrue(all(v["value"] > 0 for v in m.values()))

    def test_per_layer_names_and_units_match_benchmark_json(self):
        m = report.per_layer(record())
        self.assertEqual({k: v["unit"] for k, v in m.items()},
                         {x["name"]: x["unit"] for x in SPEC["per_layer"]})
        self.assertAlmostEqual(m["spark.driver_gap_s"]["value"], 8.0)
        self.assertAlmostEqual(m["spark.slot_util"]["value"], 0.1)
        self.assertAlmostEqual(m["span.workload_self_s"]["value"] + m["span.call_self_s"]["value"]
                               + m["span.job_self_s"]["value"], 10.0)

    def test_result_line_keeps_every_digit(self):
        line = report.result_line(True, 7, 0, {"x_s": report.metric(1.2345678901234567, "s")})
        parsed = json.loads(line)
        self.assertEqual(list(parsed), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(parsed["metrics"]["x_s"], {"value": 1.2345678901234567, "unit": "s"})
        self.assertEqual(line.count("\n"), 0)

    def test_layer_detail_medians(self):
        d = report.layer_detail(record())
        self.assertEqual(d["query.q1_s"], (0.6, "s"))
        self.assertEqual(d["streaming.state_mb"], (0.25, "MB"))


if __name__ == "__main__":
    unittest.main()
