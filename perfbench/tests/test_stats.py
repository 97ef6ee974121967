"""Self-tests of the benchmark's statistics, trace arithmetic and draw rule.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import layers  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 0.5), 50)
        self.assertEqual(stats.percentile(values, 0.9), 90)
        self.assertEqual(stats.percentile(list(reversed(values)), 0.9), 90)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_ten_samples_beyond_p90_need_a_hundred(self):
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)
        self.assertEqual(stats.samples_beyond(18, 0.9), 1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_rows_weigh_the_same(self):
        # a heavy row sampled often must not outweigh a light one
        by_row = {"light": [0.005, 0.015], "heavy": [1.0] * 50}
        self.assertAlmostEqual(stats.row_geomean(by_row), 0.1)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 5), (5, 10)]), 0)


class JobSplitTest(unittest.TestCase):
    OWNERS = {"1": "construct", "2": "execute", "4": "construct", "5": "execute"}
    REQUESTS = [(0, 100), (200, 300)]

    def test_construct_plus_execute_is_every_job_seen(self):
        jobs = [("1", 10), ("1", 20), ("2", 50), ("4", 210), ("5", 250), ("5", 299)]
        construct, execute, seen = stats.split_jobs(self.OWNERS, jobs, self.REQUESTS)
        self.assertEqual((construct, execute), (3, 3))
        self.assertEqual(construct + execute, seen)

    def test_a_job_without_its_span_breaks_the_sum(self):
        # a job started inside a request from a thread that lost the local
        # property is seen by the listener but owned by no span
        jobs = [("1", 10), ("", 60), ("2", 70)]
        construct, execute, seen = stats.split_jobs(self.OWNERS, jobs, self.REQUESTS)
        self.assertEqual(seen - construct - execute, 1)

    def test_jobs_between_requests_are_not_seen(self):
        jobs = [("", 150), ("1", 10)]
        self.assertEqual(stats.split_jobs(self.OWNERS, jobs, self.REQUESTS), (1, 0, 1))

    def test_slack_covers_millisecond_stamps(self):
        self.assertEqual(stats.split_jobs(self.OWNERS, [("1", -1)], self.REQUESTS, slack=2),
                         (1, 0, 1))


class SparkLayersTest(unittest.TestCase):
    def test_jobs_stages_and_phases_land_in_their_spans(self):
        ms = layers.MS
        records = [
            {"type": "span", "id": 1, "parent": 0, "name": "request", "request": 0, "row": "q",
             "start": 0, "end": 100 * ms},
            {"type": "span", "id": 2, "parent": 1, "name": "construct", "request": 0, "row": "q",
             "start": 0, "end": 40 * ms},
            {"type": "span", "id": 3, "parent": 1, "name": "execute", "request": 0, "row": "q",
             "start": 50 * ms, "end": 100 * ms},
            {"type": "job", "id": 0, "owner": "2", "start": 10 * ms, "end": 30 * ms},
            {"type": "job", "id": 1, "owner": "3", "start": 60 * ms, "end": 90 * ms},
            {"type": "stage", "id": 0, "job": 0, "start": 10 * ms, "end": 30 * ms, "tasks": 2,
             "run_ms": 30, "cpu_ns": 10, "input_bytes": 5, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0},
            {"type": "stage", "id": 1, "job": 1, "start": 60 * ms, "end": 90 * ms, "tasks": 4,
             "run_ms": 100, "cpu_ns": 7 * 10 ** 8, "input_bytes": 1000,
             "shuffle_read_bytes": 3, "shuffle_write_bytes": 4, "spill_bytes": 0,
             "peak_exec_mem_bytes": 64},
            {"type": "phase", "func": "save",
             "analysis": {"start": 52 * ms, "end": 54 * ms},
             "optimization": {"start": 54 * ms, "end": 57 * ms},
             "planning": {"start": 57 * ms, "end": 58 * ms}},
            {"type": "phase", "func": "collect", "analysis": None,
             "optimization": {"start": 5 * ms, "end": 9 * ms}, "planning": None},
            {"type": "phase", "func": "frame", "analysis": {"start": 20 * ms, "end": 25 * ms},
             "optimization": None, "planning": None},
            {"type": "gauge", "request": 0, "dialmemo_growth": 2, "cached_rdds": 1,
             "cached_bytes": 512},
        ]
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.writelines(json.dumps(r) + "\n" for r in records)
        try:
            m = layers.spark_layers(f.name, cores=4)
        finally:
            os.unlink(f.name)
        self.assertEqual(m["sparkentry.construct_jobs"], 1)
        self.assertEqual(m["execute.jobs"], 1)
        self.assertEqual(m["trace.unattributed_jobs"], 0)
        self.assertEqual(m["execute.stages"], 1)
        self.assertEqual(m["execute.tasks"], 4)
        self.assertEqual(m["execute.input_bytes"], 1000)
        self.assertAlmostEqual(m["execute.task_cpu_s"], 0.7)
        self.assertAlmostEqual(m["execute.slot_busy_frac"], 0.1 / (0.05 * 4))
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.003)  # construct's collect excluded
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.007)  # the action's plus the frame's
        self.assertAlmostEqual(m["sparkentry.construct_s"], 0.04)
        self.assertAlmostEqual(m["sparkentry.construct_job_s"], 0.02)
        self.assertAlmostEqual(m["request.self_s"], 0.01)
        self.assertEqual(m["dialmemo.misses"], 2)
        self.assertEqual(m["scratchcache.cached_bytes_after"], 512)

    def test_overhead(self):
        requests = [(0, True, True, 1.1), (0, True, False, 1.0),
                    (1, True, True, 2.2), (1, True, False, 2.0), (2, True, True, 9.0)]
        self.assertAlmostEqual(layers.overhead(requests), 0.1)


class MergeTest(unittest.TestCase):
    def test_jvms_add_up_and_setup_is_the_median(self):
        jvms = [{"rows": ["q"], "window_s": w, "cpu_s": 1.0, "gc_s": 0.5, "setup_s": s,
                 "heap_live_end_bytes": h, "requests": [(0, True, False, w)]}
                for w, s, h in ((1.0, 5.0, 10), (2.0, 9.0, 30), (3.0, 6.0, 20))]
        res = run.merge(jvms)
        self.assertEqual((res["window_s"], res["cpu_s"], res["gc_s"]), (6.0, 3.0, 1.5))
        self.assertEqual((res["setup_s"], res["heap_live_end_bytes"]), (6.0, 20))
        self.assertEqual(len(res["requests"]), 3)


class DrawTest(unittest.TestCase):
    SPEC = inputs._load("operators.json")

    def test_every_seed_draws_the_forced_rows(self):
        must = {"q_text_winnow_overlap", "q_text_winnow_auto", "q_text_span_dedup",
                "q_dedup_paragraph", "q_dedup_para_incr", "q_dedup_minhash"}
        for seed in range(200):
            rows = inputs.operator_draw(seed)
            self.assertTrue(must <= set(rows), seed)
            self.assertEqual(sum(r.startswith("q_pipeline_") for r in rows), 1, seed)
            self.assertEqual(len(rows), len(set(rows)))

    def test_same_seed_same_rows_and_order(self):
        self.assertEqual(inputs.operator_draw(7), inputs.operator_draw(7))
        self.assertNotEqual(inputs.operator_draw(7), inputs.operator_draw(8))

    def test_one_row_per_family(self):
        for seed in range(50):
            drawn = set(inputs.operator_draw(seed)) - set(self.SPEC["forced"])
            self.assertEqual(len(drawn), len(self.SPEC["pool"]), seed)
            for family, rows in self.SPEC["pool"].items():
                self.assertEqual(len(drawn & set(rows)), 1, (seed, family))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics every workload prints."""

    def setUp(self):
        with open(os.path.join(inputs.HERE, os.pardir, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_per_layer(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, layers.UNITS)

    def test_end_to_end(self):
        res = {"setup_s": 1.0, "window_s": 1.0, "cpu_s": 1.0, "heap_live_end_bytes": 2 ** 20}
        metrics, attempted, failed = run.end_to_end(res, [(0, True, False, 0.5)], set())
        self.assertEqual((attempted, failed), (1, 0))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: unit for k, (_, unit) in metrics.items()})

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
