"""Unit tests for the benchmark's own arithmetic, on synthetic samples and
spans. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.quantile(xs, 50), 50)
        self.assertEqual(metrics.quantile(xs, 90), 90)
        self.assertEqual(metrics.quantile(xs, 100), 100)
        self.assertEqual(metrics.quantile([7], 99), 7)
        self.assertEqual(metrics.quantile([3, 1, 2], 50), 2)

    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        p, v, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90.0, 90, 100))
        # 200 samples: p95 leaves 10 beyond
        self.assertEqual(metrics.tail(list(range(1, 201)))[0], 95.0)
        # 1100 samples: p99 leaves 11 beyond
        self.assertEqual(metrics.tail(list(range(1, 1101)))[0], 99.0)

    def test_tail_rule_on_boundaries(self):
        # 99 samples: p90 rank is 90 (ceil 89.1), 9 beyond -> falls to p75
        self.assertEqual(metrics.tail(list(range(1, 100)))[0], 75.0)
        # 20 samples: only the median leaves ten beyond
        self.assertEqual(metrics.tail(list(range(20)))[0], 50.0)
        # 19 samples: no rung qualifies
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_tail_is_order_free(self):
        xs = [5.0] * 50 + [1.0] * 50
        self.assertEqual(metrics.tail(xs)[1], 5.0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (2, 5)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (18, 30)]), 6)
        self.assertEqual(metrics.self_time((10, 20), [(0, 5), (25, 30)]), 10)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_time((0, 10), [(0, 6), (5, 10)]), 0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (10, 11)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class FailedShareTest(unittest.TestCase):
    def test_counts_ops_and_checks(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(metrics.failed_share(ops, checks), (6, 2, 2 / 6))

    def test_all_good(self):
        self.assertEqual(metrics.failed_share([{"ok": True}], []), (1, 0, 0.0))

    def test_nothing_attempted(self):
        self.assertEqual(metrics.failed_share([], []), (0, 0, 0.0))


class StoreAttributionTest(unittest.TestCase):
    def test_partition_dir(self):
        self.assertEqual(metrics.store_of("file:/w/search-3/docs/collection=bench"), "docs")
        self.assertEqual(metrics.store_of("/w/c/postings/collection=x/.delta-00004"), "postings")
        self.assertEqual(metrics.store_of("/w/c/annivfpq/collection=x"), "annivfpq")

    def test_store_named_root_does_not_confuse(self):
        # a checkout under a directory called "docs" or "impact"
        self.assertEqual(metrics.store_of("/home/docs/repo/w/impact/collection=b"), "impact")
        self.assertEqual(metrics.store_of("/impact/w/doclen/collection=b/part-0.parquet"), "doclen")

    def test_store_root_without_partition(self):
        self.assertEqual(metrics.store_of("/w/c/minhash"), "minhash")

    def test_outside_any_store(self):
        self.assertIsNone(metrics.store_of("file:/w/pass-1/s3"))
        self.assertIsNone(metrics.store_of("WarcGzScan: /w/crawl-warc"))


class RoundsTest(unittest.TestCase):
    def test_complete_rounds_only_and_upkeep_excluded(self):
        ops = [{"kind": "a", "round": 0, "ms": 1.0}, {"kind": "b", "round": 0, "ms": 2.0},
               {"kind": "compact", "round": 0, "ms": 50.0},
               {"kind": "a", "round": 1, "ms": 4.0}, {"kind": "b", "round": 1, "ms": 1.0},
               {"kind": "a", "round": 2, "ms": 9.0},
               {"kind": "maintain", "round": -1, "ms": 70.0}]
        self.assertEqual(metrics.rounds(ops), [3.0, 5.0])

    def test_round_p50_sums_kind_medians(self):
        ops = [{"kind": "a", "round": r, "ms": ms} for r, ms in enumerate([1.0, 9.0, 2.0])] + \
              [{"kind": "b", "round": r, "ms": ms} for r, ms in enumerate([5.0, 4.0, 30.0])] + \
              [{"kind": "compact", "round": 0, "ms": 100.0},
               {"kind": "a", "round": -1, "ms": 500.0}]
        self.assertEqual(metrics.round_p50(ops), 2.0 + 5.0)


class SpansTest(unittest.TestCase):
    def trace(self):
        return {
            "calls": [
                {"id": "req-1", "name": "api.searchTopK", "phase": "loop", "t0": 100.0, "t1": 200.0,
                 "ok": True, "fs": {"listOps": 3, "openOps": 4}, "files_written": 0,
                 "bytes_written": 0},
                {"id": "req-2", "name": "api.addDf", "phase": "loop", "t0": 300.0, "t1": 400.0,
                 "ok": True, "fs": {}, "files_written": 5, "bytes_written": 500},
            ],
            "events": [
                {"type": "job_start", "job": 1, "t": 110, "group": "req-1", "exec": "7", "stages": [1]},
                {"type": "job_end", "job": 1, "t": 130},
                {"type": "job_start", "job": 2, "t": 120, "group": "req-1", "exec": "7", "stages": [2]},
                {"type": "job_end", "job": 2, "t": 150},
                {"type": "job_start", "job": 3, "t": 310, "group": "req-2", "exec": None, "stages": [3]},
                {"type": "job_end", "job": 3, "t": 390},
                {"type": "sql_start", "exec": 7, "t": 105},
                {"type": "sql_end", "exec": 7, "t": 160},
                {"type": "sql_start", "exec": 8, "t": 170},
                {"type": "sql_end", "exec": 8, "t": 171},
                {"type": "qe", "exec": 7, "phases": {"analysis": 1, "optimization": 4, "planning": 2},
                 "scans": [{"paths": ["file:/w/impact/collection=b"], "bytes": 40, "rows": 8, "files": 1}],
                 "verify_rows": 0},
                {"type": "stage", "stage": 1, "tasks": 2, "t0": 110, "t1": 130, "run_ms": 30,
                 "gc_ms": 3, "spill_bytes": 0, "shuffle_write_bytes": 64},
                {"type": "stage", "stage": 2, "tasks": 1, "t0": 120, "t1": 150, "run_ms": 20,
                 "gc_ms": 1, "spill_bytes": 0, "shuffle_write_bytes": 0},
                {"type": "stage", "stage": 3, "tasks": 4, "t0": 310, "t1": 390, "run_ms": 200,
                 "gc_ms": 0, "spill_bytes": 8, "shuffle_write_bytes": 0},
            ],
            "task_ms": {"1": [10, 12], "2": [30], "3": [10, 10, 10, 40]},
        }

    def test_join(self):
        calls, _ = metrics.spans(self.trace())
        c1, c2 = calls
        self.assertEqual([j["job"] for j in c1["jobs"]], [1, 2])
        # execution 7 via its jobs, execution 8 (no jobs) by containment
        self.assertEqual(sorted(s["exec"] for s in c1["sqls"]), [7, 8])
        self.assertEqual([s["stage"] for s in c2["stages"]], [3])

    def test_per_layer(self):
        rec = {"trace_data": self.trace(), "cores": 4,
               "info": {"user_bytes_written": 250, "parse_us_per_query": 3.0,
                        "searchTopK_certified": 3, "searchTopK_issued": 4},
               "ops": [{"kind": "fts_single", "ok": True, "hits": 4, "ms": 100.0}]}
        m = {k: v for k, (v, _) in metrics.per_layer(rec).items()}
        self.assertEqual(m["api.searchTopK.calls"], 1)
        # 100 ms call, jobs cover [110, 150] -> 60 ms driver-side
        self.assertAlmostEqual(m["api.searchTopK.self_ms"], 60.0)
        self.assertEqual(m["api.searchTopK.jobs"], 2)
        self.assertEqual(m["exec.impact_served_share"], 0.75)
        self.assertEqual(m["exec.rows_scanned_per_hit"], 2.0)
        self.assertEqual(m["plans.executions_per_call"], 1.0)
        self.assertEqual(m["plans.optimization_ms"], 2.0)
        self.assertEqual(m["index.bytes_read.impact"], 20.0)
        self.assertEqual(m["index.bytes_written_per_user_byte"], 2.0)
        self.assertEqual(m["index.fs_list_ops_per_call"], 1.5)
        self.assertAlmostEqual(m["spark.core_busy_share"], 250 / (200 * 4))
        self.assertEqual(m["spark.spill_bytes"], 8)
        # longest stage of call 1 is stage 2 (one task), of call 2 stage 3
        self.assertEqual(m["spark.task_skew"], (1.0 + 4.0) / 2)

    def test_per_layer_leaves_out_warmup(self):
        trace = self.trace()
        trace["calls"].append({"id": "req-0", "name": "api.searchTopK", "phase": "warmup",
                               "t0": 0.0, "t1": 90.0, "ok": True, "fs": {}, "files_written": 0,
                               "bytes_written": 0})
        trace["events"] += [
            {"type": "job_start", "job": 9, "t": 10, "group": "req-0", "exec": None, "stages": [9]},
            {"type": "job_end", "job": 9, "t": 80},
            {"type": "stage", "stage": 9, "tasks": 1, "t0": 10, "t1": 80, "run_ms": 70,
             "gc_ms": 0, "spill_bytes": 0, "shuffle_write_bytes": 0}]
        rec = {"trace_data": trace, "cores": 4, "info": {},
               "ops": [{"kind": "fts_single", "ok": True, "hits": 4, "ms": 100.0}]}
        m = {k: v for k, (v, _) in metrics.per_layer(rec).items()}
        self.assertEqual(m["api.searchTopK.calls"], 1)
        self.assertAlmostEqual(m["api.searchTopK.self_ms"], 60.0)
        self.assertEqual(m["spark.stages_per_call"], 1.5)


class ContractTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics this module produces."""

    def test_metric_names_match(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        rec = {"trace_data": {"calls": [], "events": [], "task_ms": {}}, "cores": 4,
               "info": {}, "ops": []}
        self.assertEqual(sorted(m["name"] for m in bench["per_layer"]),
                         sorted(set(metrics.per_layer(rec)) - set(metrics.CHURN_ONLY)))
        self.assertTrue(set(metrics.CHURN_ONLY) <= set(metrics.per_layer(rec)))
        units = {k: u for k, (_, u) in metrics.per_layer(rec).items()}
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], units[m["name"]], m["name"])
        e2e = metrics.end_to_end({"ops": [], "setups_s": [1.0]})
        self.assertEqual(sorted(m["name"] for m in bench["end_to_end"]), sorted(e2e))
        for m in bench["end_to_end"]:
            self.assertEqual(m["unit"], e2e[m["name"]][1], m["name"])

    def test_workload_spec_covers_every_metric(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            spec = json.load(f)
        gated = [w["name"] for w in bench["workloads"]]
        self.assertTrue(set(gated) <= set(spec["workloads"]))
        self.assertEqual(sorted(spec["per_layer_moves"]),
                         sorted([m["name"] for m in bench["per_layer"]] + list(metrics.CHURN_ONLY)))


if __name__ == "__main__":
    unittest.main()
