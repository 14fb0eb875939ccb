"""Self-tests for the benchmark's own math, on synthetic listener events.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402
import oracle  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolated_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.quantile(xs, 0.5), 3.0)
        self.assertEqual(metrics.quantile(xs, 0.0), 1.0)
        self.assertEqual(metrics.quantile(xs, 1.0), 5.0)
        self.assertAlmostEqual(metrics.quantile([0.0, 10.0], 0.9), 9.0)

    def test_ten_samples_beyond_rule(self):
        self.assertFalse(metrics.tail_ok(99, 0.9))
        self.assertTrue(metrics.tail_ok(100, 0.9))
        self.assertEqual(metrics.min_samples(0.9), 100)
        self.assertEqual(metrics.min_samples(0.5), 20)
        self.assertEqual(metrics.min_samples(0.99), 1000)

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        def raw(n):
            return {"setups": [1.0], "passes": [
                {"pass": 0, "kind": "cold", "wall_s": 9.0, "cpu_s": 1.0},
                {"pass": 2, "kind": "warm", "wall_s": 2.0, "cpu_s": 1.0}],
                "execs": [{"pass": 2, "error": "", "build_s": i / 1000, "action_s": 0.0,
                           "held_peak_b": 0} for i in range(n)]}
        m, counts = metrics.end_to_end(raw(99))
        self.assertEqual(counts["tail"][0], 89)
        self.assertIsNone(counts["p90"])
        m, counts = metrics.end_to_end(raw(100))
        self.assertEqual(counts["query_n"], 100)
        self.assertEqual(counts["tail"][0], 90)
        self.assertAlmostEqual(counts["p90"], 0.0891)
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3)]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 20)], 0, 10), 7)

    def test_driver_gap_is_time_without_a_running_job(self):
        jobs = [(100, 200), (150, 300), (400, 450)]
        self.assertEqual(metrics.driver_gap(0, 500, jobs), 500 - 250)
        self.assertEqual(metrics.driver_gap(0, 50, jobs), 50)
        # jobs from outside the window do not count
        self.assertEqual(metrics.driver_gap(300, 400, jobs), 100)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 40},
            {"id": 2, "parent": 0, "start": 30, "end": 60},   # overlaps 1
            {"id": 3, "parent": 2, "start": 50, "end": 90},   # runs past its parent
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 50)
        self.assertEqual(st[1], 30)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 40)

    def test_spark_spans_hang_under_harness_spans(self):
        harness = [
            {"id": 0, "parent": -1, "name": "run", "start": 0, "end": 1000},
            {"id": 1, "parent": 0, "name": "query", "start": 0, "end": 1000},
            {"id": 2, "parent": 1, "name": "build", "start": 0, "end": 400},
            {"id": 3, "parent": 1, "name": "action", "start": 400, "end": 1000},
        ]
        sqls = [{"id": 7, "start": 450, "end": 900}]
        jobs = [{"id": 1, "sql": -1, "start": 100, "end": 200, "stages": [1]},
                {"id": 2, "sql": 7, "start": 500, "end": 800, "stages": [2, 3]}]
        stages = [{"id": 2, "submit": 500, "complete": 700},
                  {"id": 3, "submit": 700, "complete": 800}]
        spans = metrics.attach_spark_spans(harness, sqls, jobs, stages)
        parent = {s["name"] + str(s["start"]): s["parent"] for s in spans}
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(by_id[parent["sql450"]]["name"], "action")
        self.assertEqual(by_id[parent["job100"]]["name"], "build")
        self.assertEqual(by_id[parent["job500"]]["name"], "sql")
        self.assertEqual(by_id[parent["stage700"]]["name"], "job")
        st = metrics.self_times(spans)
        self.assertEqual(st[3], 600 - 450)
        self.assertEqual(st[2], 400 - 100)


def traced_raw():
    """One cold and one warm pass of one query, with two jobs in the warm one."""
    def ex(i, kind, p):
        return {"exec": i, "query": "q", "kind": kind, "pass": p, "sweep_s": 0.01,
                "build_s": 0.2, "action_s": 0.3, "error": "", "held_peak_b": 2 * metrics.MIB,
                "pins": 1, "pin_bytes": 100, "compile_ns": 5e8 if kind == "cold" else 0,
                "compiles": 4 if kind == "cold" else 1, "actions": 2, "analysis_ms": 10,
                "optimization_ms": 20, "planning_ms": 5, "batches": 0, "batch_ms": 0,
                "commit_ms": 0, "state_rows": 0}
    return {
        "setup_s": 2.0, "setups": [2.0, 3.0, 4.0], "session_s": 1.5,
        "passes": [{"pass": 0, "kind": "cold", "wall_s": 2.0, "cpu_s": 1.0, "start": 0, "end": 2000},
                   {"pass": 2, "kind": "warm", "wall_s": 1.0, "cpu_s": 0.5, "start": 3000, "end": 4000}],
        "execs": [ex(0, "cold", 0), ex(1, "warm", 2)],
        "spans": [{"id": 5, "parent": 4, "name": "query", "exec": 1, "start": 3000, "end": 4000},
                  {"id": 6, "parent": 5, "name": "build", "start": 3010, "end": 3210},
                  {"id": 7, "parent": 5, "name": "action", "start": 3210, "end": 3510}],
        "jobs": [{"id": 1, "exec": 1, "sql": -1, "start": 3100, "end": 3200, "stages": [1]},
                 {"id": 2, "exec": 1, "sql": 3, "start": 3300, "end": 3500, "stages": [2]}],
        # m: tasks, run ms, cpu ns, gc ms, shuffle w, shuffle r, fetch wait ms,
        #    spill, read bytes, read rows, write bytes, write rows
        "stages": [{"id": 1, "exec": 1, "m": [4, 800, 5e8, 10, 100, 0, 0, 0, 1000, 50, 0, 0]},
                   {"id": 2, "exec": 1, "m": [4, 400, 1e8, 0, 0, 100, 2, 0, 0, 0, 0, 0]}],
    }


class Layers(unittest.TestCase):
    def test_executor_wait_is_run_minus_cpu(self):
        self.assertAlmostEqual(metrics.wait_s(1.2, 0.6), 0.6)
        layers = metrics.exec_layers(traced_raw())
        w = layers[1]
        self.assertAlmostEqual(w["run_s"], 1.2)
        self.assertAlmostEqual(w["cpu_s"], 0.6)
        self.assertAlmostEqual(w["wait_s"], 0.6)
        self.assertEqual(w["tasks"], 8)
        self.assertEqual(w["build_jobs"], 1)
        self.assertAlmostEqual(w["driver_gap_s"], (1000 - 300) / 1e3)

    def test_per_layer_medians_and_cold_codegen(self):
        raw = traced_raw()
        pl = metrics.per_layer(raw, metrics.exec_layers(raw))
        self.assertEqual(pl["session.build_s"], 1.5)
        self.assertAlmostEqual(pl["scheduler.driver_gap_s"], 0.7)
        self.assertAlmostEqual(pl["codegen.compile_s"], 0.5)
        self.assertEqual(pl["codegen.compiles"], 4)
        self.assertEqual(pl["codegen.warm_compiles"], 1)
        self.assertAlmostEqual(pl["executor.wait_s"], 0.6)
        self.assertEqual(pl["shuffle.read_bytes"], 100)
        self.assertAlmostEqual(pl["shuffle.fetch_wait_s"], 0.002)
        self.assertEqual(set(pl), set(metrics.PASS_SUMS) | {
            "scheduler.driver_gap_s", "session.build_s", "codegen.compile_s", "codegen.compiles"})

    def test_end_to_end_from_synthetic_run(self):
        m, counts = metrics.end_to_end(traced_raw())
        self.assertEqual(m["setup_s"], 3.0)  # the median set-up, not the main JVM's
        self.assertEqual(m["cold_pass_s"], 2.0)
        self.assertEqual(m["pass_s"], 1.0)
        self.assertEqual(m["storage_peak_mb"], 2.0)
        self.assertEqual(counts, {"passes": 1, "query_n": 1, "tail": None, "p90": None})


class OracleRule(unittest.TestCase):
    def test_columns_by_name_rows_sorted(self):
        s = [(2, "b"), (1, "a")]
        d = [("a", 1), ("b", 2)]
        self.assertEqual(oracle.compare(s, ["n", "s"], d, ["s", "n"]), "ok")

    def test_exact_values(self):
        self.assertNotEqual(oracle.compare([(0.1 + 0.2,)], ["x"], [(0.3,)], ["x"]), "ok")
        self.assertNotEqual(oracle.compare([(1,)], ["x"], [(1,), (1,)], ["x"]), "ok")
        self.assertNotEqual(oracle.compare([(1,)], ["x"], [(1,)], ["y"]), "ok")
        self.assertEqual(oracle.compare([(None,)], ["x"], [(None,)], ["x"]), "ok")


if __name__ == "__main__":
    unittest.main()
