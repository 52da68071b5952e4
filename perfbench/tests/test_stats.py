"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench/tests"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(99), 50.0)
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(20), 50.0)
        self.assertIsNone(stats.highest_percentile(19))


class GeomeanOfMedians(unittest.TestCase):
    def test_one_slow_query_counts_once(self):
        g = stats.geomean_of_medians({"a": [1.0, 2.0, 100.0], "b": [4.0]})
        self.assertAlmostEqual(g, math.sqrt(2.0 * 4.0))

    def test_empty_lists_are_skipped(self):
        self.assertAlmostEqual(stats.geomean_of_medians({"a": [3.0], "b": []}), 3.0)


class Permutations(unittest.TestCase):
    names = [f"q{i}" for i in range(20)]

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.permutations(self.names, 7, 5),
                         stats.permutations(self.names, 7, 5))

    def test_seed_changes_orders_and_each_is_a_permutation(self):
        a = stats.permutations(self.names, 7, 5)
        self.assertNotEqual(a, stats.permutations(self.names, 8, 5))
        self.assertNotEqual(a[0], a[1])
        for order in a:
            self.assertEqual(sorted(order), sorted(self.names))


class TracedPasses(unittest.TestCase):
    def test_traced_runs_take_whole_abba_blocks(self):
        self.assertEqual(run.traced_passes("relational", 10, 0), [False] * 4)
        self.assertEqual(run.traced_passes("relational", 0, 0), [False] * 3)
        flags = run.traced_passes("llm-pipeline", 10, 1)
        self.assertEqual(flags, stats.abba(2))
        self.assertEqual(flags[:4], [False, True, True, False])
        self.assertEqual(run.traced_passes("llm-pipeline", 20, 1), stats.abba(3))

    def test_linear_drift_cancels_out_of_the_overhead(self):
        # every pass 0.1 s faster than the one before, tracing costs 0.05 s
        flags = stats.abba(2)
        passes = [(t, 3.0 - 0.1 * i + (0.05 if t else 0.0)) for i, t in enumerate(flags)]
        self.assertAlmostEqual(stats.paired_overhead(passes), 0.05)

    def test_overhead_refuses_passes_out_of_abba_order(self):
        with self.assertRaises(ValueError):
            stats.paired_overhead([(False, 1.0), (True, 1.0), (False, 1.0), (True, 1.0)])


class Workloads(unittest.TestCase):
    def test_pinned_queries_are_used_as_given(self):
        catalog = {q: None for qs, _ in run.WORKLOADS.values() for q in qs}
        for name, (queries, _) in run.WORKLOADS.items():
            self.assertEqual(run.workload_queries(catalog, name), queries)
        catalog.pop("j2_dag_run")
        with self.assertRaises(SystemExit):
            run.workload_queries(catalog, "stateful")


class OracleGateOutput(unittest.TestCase):
    out = """PASS d4_agg_rollup: 31 rows
SKIP h3_udaf_hll: no oracle (rows-only: 6 rows)
FAIL e6_win_range_frame: first diff at sorted row 3:
  cols  : ['a', 'b']
  spark : (1, 2)
  duckdb: (1, 3)
FAIL s1_sql_tpch3: declared but no spark output present
== 1 pass, 2 fail, 1 rows-only ==
"""

    def test_verdict_per_query(self):
        gate = stats.parse_selfcheck(self.out)
        self.assertEqual(gate["d4_agg_rollup"], ("PASS", "31 rows"))
        self.assertEqual(gate["e6_win_range_frame"][0], "FAIL")
        self.assertEqual(gate["s1_sql_tpch3"][0], "FAIL")
        self.assertEqual(set(gate), {"d4_agg_rollup", "h3_udaf_hll", "e6_win_range_frame",
                                     "s1_sql_tpch3"})
        self.assertEqual(stats.rows_only_count(gate["h3_udaf_hll"][1]), 6)
        self.assertIsNone(stats.rows_only_count(gate["d4_agg_rollup"][1]))

    def test_a_fail_line_wins_over_an_earlier_line(self):
        gate = stats.parse_selfcheck("SKIP q: no oracle (rows-only: 2 rows)\n"
                                     "FAIL q: declared but no spark output present\n")
        self.assertEqual(gate["q"][0], "FAIL")


class TimeWindowAttribution(unittest.TestCase):
    def test_owner_is_the_window_running_at_start(self):
        w = stats.Windows([(10.0, 20.0, "q2"), (0.0, 9.5, "q1"), (30.0, 40.0, "q3")])
        self.assertEqual(w.owner(0.0), "q1")
        self.assertEqual(w.owner(15.0), "q2")
        self.assertEqual(w.owner(20.0), "q2")
        self.assertIsNone(w.owner(9.7))
        self.assertIsNone(w.owner(-1.0))
        self.assertIsNone(w.owner(41.0))

    def test_jobs_follow_start_time_not_job_group(self):
        # a streaming job carries its own run-id group; it still belongs to
        # the query whose window it started in
        execs = [{"k": "exec", "phase": "timed", "traced": True, "pass": 1, "q": q,
                  "t0": t0, "t1": t0 + 1, "t2": t0 + 2, "t3": t0 + 9, "exchanges": 1, "err": ""}
                 for q, t0 in (("a1", 0.0), ("i1", 10.0))]
        recs = execs + [
            {"k": "job", "id": 1, "t": 5, "stages": [1], "group": "bench"},
            {"k": "job", "id": 2, "t": 10, "stages": [2], "group": "stream-run-id"},
            {"k": "job", "id": 3, "t": 15, "stages": [3], "group": "stream-run-id"},
            {"k": "job_end", "id": 1, "t": 6}, {"k": "job_end", "id": 2, "t": 11},
            {"k": "job_end", "id": 3, "t": 16},
            {"k": "pass", "pass": 0, "traced": False, "s": 0.02, "heap_mb": 90.0},
            {"k": "pass", "pass": 1, "traced": True, "s": 0.02, "heap_mb": 80.0},
            {"k": "pass", "pass": 2, "traced": True, "s": 0.02, "heap_mb": 80.0},
            {"k": "pass", "pass": 3, "traced": False, "s": 0.02, "heap_mb": 90.0},
            {"k": "end", "disk_mb": 0.5},
        ]
        spans = run.spans_of(recs)
        parent = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parent["j1"], "q0.exec")
        self.assertEqual(parent["j2"], "q1.build")
        self.assertEqual(parent["j3"], "q1.exec")
        names = ["spark.jobs", "operators.build_jobs", "operators.build_s.i"]
        metrics, _ = run.layer_metrics(recs, 4, names)
        self.assertEqual(metrics["spark.jobs"], 3)
        self.assertEqual(metrics["operators.build_jobs"], 1)
        self.assertAlmostEqual(metrics["operators.build_s.i"], 0.001)


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted(self):
        spans = [{"id": "q", "parent": None, "name": "query", "start": 0, "end": 10000},
                 {"id": "b", "parent": "q", "name": "build", "start": 2000, "end": 5000},
                 {"id": "e", "parent": "q", "name": "exec", "start": 4000, "end": 8000}]
        self.assertEqual(stats.self_times(spans), {"query": 4.0, "build": 3.0, "exec": 4.0})


if __name__ == "__main__":
    unittest.main()
