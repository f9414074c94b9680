"""Tests for the benchmark's own code (no JVM, no Spark).

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402
import workload  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 9.1)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_engine_metrics_and_sample_count(self):
        records = [{"seq": i, "t0_us": i * 100000, "ms": float(i + 1), "ok": True}
                   for i in range(12)]
        summary = {"loop_s": 1.2, "setup_s": 3.5}
        m = run.end_to_end("api_point", {"block": 6}, summary, records)
        self.assertAlmostEqual(m["qps"], 10.0)
        self.assertEqual(m["latency_p50_ms"], 6.5)
        self.assertAlmostEqual(m["latency_p90_ms"], 10.9)
        self.assertEqual(m["setup_s"], 3.5)
        # a 6-op block at 10 ops/s
        self.assertAlmostEqual(m["pass_s"], 0.6)
        line = run.result_line([], len(records), m, run.END_TO_END)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (12, 0, True))
        self.assertEqual(set(line["metrics"]), set(run.END_TO_END))

    def test_pipeline_latency_is_the_pass(self):
        rows = [{"pass": p, "row": r, "construct_ms": 10.0, "execute_ms": 90.0, "ok": True}
                for p in range(2) for r in "abcd"]
        summary = {"pass_s": [0.4, 0.5], "setup_s": 2.0}
        m = run.end_to_end("pipeline_batch", {"block": 4}, summary, rows)
        self.assertAlmostEqual(m["qps"], 8 / 0.9)
        self.assertEqual(m["pass_s"], 0.45)
        self.assertEqual(m["latency_p50_ms"], 450.0)
        self.assertAlmostEqual(m["latency_p90_ms"], 490.0)

    def test_failures_mark_the_run_incorrect(self):
        line = run.result_line([(3, "topk", "1 rows != 2")], 5, {"qps": 1.0}, {"qps": "1/s"})
        self.assertEqual((line["correct"], line["failed"]), (False, 1))
        self.assertEqual(line["metrics"]["qps"], {"value": 1.0, "unit": "1/s"})


class SelfTimeTest(unittest.TestCase):

    def span(self, sid, parent, t0, t1):
        return {"op": 0, "id": sid, "parent": parent, "name": f"s{sid}", "t0": t0, "t1": t1}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 20, 50),   # overlaps child 1: union is 10..50
                 self.span(3, 1, 12, 18)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, {0: 60, 1: 14, 2: 30, 3: 6})

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 40)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_self_times_sum_to_the_root_wall(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 40), self.span(2, 1, 5, 25),
                 self.span(3, 0, 40, 90)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)

    def test_phase_attaches_to_deepest_holder(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 60)]
        s = stats.attach(spans, "catalyst.planning", 20, 30, 2)
        self.assertEqual((s["parent"], s["t1"]), (1, 30))
        self.assertIsNone(stats.attach(spans, "catalyst.planning", 200, 210, 2))

    def test_jobs_go_to_the_op_running_at_submission(self):
        roots = [{"op": 7, "t0": 0, "t1": 5000}, {"op": 8, "t0": 6000, "t1": 9000}]
        jobs = [{"job": 0, "submit_ms": 1, "stages": [0, 1]},
                {"job": 1, "submit_ms": 7, "stages": [1, 2]},  # stage 1 ran for job 0
                {"job": 2, "submit_ms": 20, "stages": [3]}]     # outside every op
        st = {"tasks": 2, "run_ms": 5, "scheduler_delay_ms": 1, "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 0, "spill_bytes": 0, "result_bytes": 10, "records_read": 4}
        stages = [dict(st, stage=i) for i in range(4)]
        out = stats.per_op_spark(jobs, stages, stats.OpIndex(roots))
        self.assertEqual((out[7]["jobs"], out[7]["stages"], out[7]["tasks"]), (1, 2, 4))
        self.assertEqual((out[8]["jobs"], out[8]["stages"]), (1, 1))
        self.assertNotIn(None, out)


class GeneratorTest(unittest.TestCase):

    def test_fixed_seed_fixes_the_sequence(self):
        for name in workload.GENERATORS:
            self.assertEqual(workload.generate(name, 5), workload.generate(name, 5), name)
            self.assertNotEqual(workload.generate(name, 5), workload.generate(name, 6), name)

    def test_api_mix_repeats_and_cache_split(self):
        header, ops = workload.api_point(3, n_ops=400, n_warm=0)
        self.assertEqual(len(header["cache_keys"]), workload.N_CUSTOMERS // 2)
        share = workload.repeat_share(ops)
        self.assertTrue(0.35 < share < 0.65, share)
        split = workload.cache_split(ops, header["cache_keys"])
        self.assertTrue(all(split[k] > 0 for k in ("hit", "partial", "miss")), split)
        first = ops[:header["block"]]
        counts = {t: sum(op["template"] == t for op in first) for t in workload.API_BLOCK}
        self.assertEqual(counts, workload.API_BLOCK)

    def test_warm_ops_lead_the_file(self):
        header, ops = workload.api_point(4, n_ops=100, n_warm=40)
        self.assertEqual((header["warm_ops"], len(ops)), (40, 140))
        _, other = workload.api_point(4, n_ops=100, n_warm=0)
        self.assertEqual(ops[40:], other)

    def test_pipeline_rows_are_a_permutation(self):
        header, _ = workload.pipeline_batch(9)
        self.assertEqual(sorted(header["rows"]), sorted(workload.PIPELINE_ROWS))


class CheckResultTest(unittest.TestCase):
    oracle = {"check": "rows", "ordered": True}

    def test_rows_match_with_float_and_timestamp_normalisation(self):
        from datetime import datetime
        expected = (["k", "ts", "v"], [(1, datetime(1996, 1, 2), 0.1 + 0.2)])
        reply = {"kind": "data", "data": [{"k": 1, "ts": "1996-01-02T00:00:00Z", "v": 0.3}]}
        self.assertIsNone(workload.check_result(self.oracle, reply, expected))

    def test_wrong_value_and_order_are_reported(self):
        expected = (["k"], [(1,), (2,)])
        reply = {"kind": "data", "data": [{"k": 2}, {"k": 1}]}
        self.assertIn("row 0", workload.check_result(self.oracle, reply, expected))
        unordered = dict(self.oracle, ordered=False)
        self.assertIsNone(workload.check_result(unordered, reply, expected))

    def test_count_and_sql_checks(self):
        self.assertIsNone(workload.check_result({"check": "count"}, {"count": 4}, ([], [(4,)])))
        self.assertIsNotNone(workload.check_result({"check": "count"}, {"count": 5}, ([], [(4,)])))
        sql = {"check": "sql", "params": [42], "table": "orders"}
        self.assertIsNone(workload.check_result(
            sql, {"kind": "sql", "sql": "SELECT * FROM orders", "params": [42]}, None))
        self.assertIsNotNone(workload.check_result(
            sql, {"kind": "sql", "sql": "SELECT * FROM orders", "params": [41]}, None))


class ContractTest(unittest.TestCase):

    def test_benchmark_json_names_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(workload.GENERATORS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
