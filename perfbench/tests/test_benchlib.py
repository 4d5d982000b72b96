"""Tests of the benchmark's own helpers: python3 -m unittest discover -s perfbench/tests"""
import json
import pathlib
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from benchlib import ledger, stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        # 100 samples: rank 90 leaves exactly 10 above it
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90, 100))

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        # 65 samples: p84 is at rank 55, which leaves 10 above
        p, value, n = stats.tail_percentile(list(range(1, 66)))
        self.assertEqual((p, value, n), (84, 55, 65))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12, 0]
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(stats.spread([2.5]), 0.0)


class TaskSkewTest(unittest.TestCase):
    def test_even_tasks(self):
        self.assertEqual(stats.task_skew([10, 10, 10, 10]), 1.0)

    def test_one_straggler(self):
        self.assertEqual(stats.task_skew([10, 10, 10, 50]), 5.0)

    def test_median_floored_at_one_ms(self):
        self.assertEqual(stats.task_skew([0, 0, 0, 7]), 7.0)

    def test_no_tasks(self):
        self.assertEqual(stats.task_skew([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = {
            1: {"parent": 0, "start": 0.0, "end": 100.0},
            2: {"parent": 1, "start": 10.0, "end": 40.0},
            3: {"parent": 1, "start": 30.0, "end": 50.0},  # overlaps 2 by 10
            4: {"parent": 2, "start": 15.0, "end": 20.0},
        }
        self.assertEqual(stats.self_times(spans), {1: 60.0, 2: 25.0, 3: 20.0, 4: 5.0})

    def test_child_outside_parent_is_clipped(self):
        spans = {1: {"parent": 0, "start": 0.0, "end": 10.0},
                 2: {"parent": 1, "start": 5.0, "end": 30.0}}
        self.assertEqual(stats.self_times(spans)[1], 5.0)


class LedgerTest(unittest.TestCase):
    def records(self):
        lines = [
            {"ev": "span", "id": 1, "parent": 0, "name": "ingest", "layer": "", "start": 0, "end": 100},
            {"ev": "span", "id": 2, "parent": 1, "name": "canon", "layer": "canon", "start": 10, "end": 60},
            {"ev": "span", "id": 3, "parent": 1, "name": "canon.commit", "layer": "io", "start": 60, "end": 90},
            {"ev": "job", "id": 0, "group": "span-2", "start": 11},
            {"ev": "job_end", "id": 0, "end": 30},
            # a job whose thread did not inherit the group: charged by time
            {"ev": "job", "id": 1, "group": None, "start": 65},
            {"ev": "job_end", "id": 1, "end": 80},
            {"ev": "job", "id": 2, "group": "ledger-flush", "start": 95},
        ]
        task = {"ev": "task", "gc_ms": 1, "shuffle_read": 5, "shuffle_write": 7, "spill": 0}
        lines += [dict(task, job=0, stage=0, run_ms=r, cpu_ns=2_000_000_000) for r in (10, 10, 40)]
        lines += [dict(task, job=1, stage=1, run_ms=4, cpu_ns=1_000_000_000),
                  dict(task, job=2, stage=2, run_ms=1, cpu_ns=500_000_000),
                  {"ev": "count", "name": "canon.components", "value": 12.0},
                  {"ev": "count", "name": "canon.components", "value": 13.0},
                  {"ev": "stage", "id": 0, "attempt": 0, "tasks": 3},
                  {"ev": "stage", "id": 1, "attempt": 0, "tasks": 1},
                  {"ev": "stage", "id": 2, "attempt": 0, "tasks": 1},
                  {"ev": "jvm", "gc_ms": 250, "peak_heap_mb": 512.0, "listener_ms": 3.0,
                   "process_cpu_ns": 9_000_000_000, "tasks_started": 5}]
        return json.loads(json.dumps(lines))

    def problems(self, records):
        return ledger.problems(records, ledger.analyze(records, turns=100))

    def test_layer_totals(self):
        m = ledger.analyze(self.records(), turns=100)
        self.assertEqual(m["canon.tasks"], 3)
        self.assertAlmostEqual(m["canon.task_cpu_s"], 6.0)
        self.assertAlmostEqual(m["canon.wall_s"], 0.05)
        self.assertEqual(m["canon.shuffle_bytes"], 36)
        self.assertEqual(m["canon.task_skew"], 4.0)
        self.assertEqual(m["canon.jobs"], 1)
        self.assertEqual(m["canon.components"], 12.0)
        self.assertAlmostEqual(m["io.task_cpu_s"], 1.0)
        self.assertAlmostEqual(m["io.write_s"], 0.03)
        self.assertEqual(m["link.tasks"], 0)
        self.assertAlmostEqual(m["jvm.gc_s"], 0.25)

    def test_cpu_adds_up(self):
        m = ledger.analyze(self.records(), turns=100)
        self.assertAlmostEqual(m["ledger.total_task_cpu_s"], 7.5)
        self.assertEqual(m["ledger.unattributed_cpu_s"], 0)
        self.assertEqual(self.problems(self.records()), [])

    def test_unattributed_cpu_is_a_problem(self):
        records = self.records()
        # a job outside every span: its task is charged to no layer
        records += [{"ev": "job", "id": 3, "group": None, "start": 500},
                    {"ev": "task", "job": 3, "stage": 3, "run_ms": 1, "cpu_ns": 7, "gc_ms": 0,
                     "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
                    {"ev": "stage", "id": 3, "attempt": 0, "tasks": 1}]
        records[-4]["tasks_started"] = 6
        m = ledger.analyze(records, turns=100)
        self.assertAlmostEqual(m["ledger.unattributed_cpu_s"], 7e-9)
        self.assertEqual(len(self.problems(records)), 1)

    def test_missing_task_record_is_a_problem(self):
        records = [r for r in self.records() if not (r["ev"] == "task" and r["stage"] == 1)]
        found = self.problems(records)
        self.assertEqual(len(found), 2)
        self.assertIn("5 tasks launched, 4 task records", found[0])
        self.assertIn("first stage 1", found[1])

    def test_stage_retries_add_up(self):
        records = self.records()
        records.append({"ev": "stage", "id": 1, "attempt": 1, "tasks": 1})
        self.assertEqual(len(self.problems(records)), 1)

    def test_task_cpu_above_process_cpu_is_a_problem(self):
        records = self.records()
        next(r for r in records if r["ev"] == "jvm")["process_cpu_ns"] = 7_000_000_000
        self.assertIn("exceeds", self.problems(records)[0])

    def test_every_listed_metric_is_computed(self):
        m = ledger.analyze(self.records(), turns=100)
        self.assertEqual(sorted(m), sorted(name for name, _ in ledger.metric_units()))

    def test_graph_build_inside_a_query_counts_as_materialize(self):
        records = [
            {"ev": "span", "id": 1, "parent": 0, "name": "kg_cypher", "layer": "graph.query", "start": 0, "end": 50},
            {"ev": "span", "id": 2, "parent": 1, "name": "kg_cypher.build", "layer": "graph.query", "start": 0, "end": 40},
            {"ev": "span", "id": 3, "parent": 1, "name": "kg_cypher.action", "layer": "graph.query", "start": 40, "end": 50},
            {"ev": "job", "id": 0, "group": "span-2", "start": 1}, {"ev": "job_end", "id": 0, "end": 39},
            {"ev": "job", "id": 1, "group": "span-3", "start": 42}, {"ev": "job_end", "id": 1, "end": 48},
        ]
        m = ledger.analyze(records, turns=1)
        self.assertAlmostEqual(m["graph.materialize.wall_s"], 0.04)
        self.assertAlmostEqual(m["graph.query.wall_s"], 0.01)
        self.assertAlmostEqual(m["graph.query.driver_ms"], 4.0)
        self.assertEqual(m["graph.query.jobs_per_query"], 1.0)

    def test_only_the_first_graph_build_counts_as_materialize(self):
        records = [
            {"ev": "span", "id": 1, "parent": 0, "name": "a.build", "layer": "graph.query", "start": 0, "end": 40},
            {"ev": "span", "id": 2, "parent": 0, "name": "a.action", "layer": "graph.query", "start": 40, "end": 50},
            {"ev": "span", "id": 3, "parent": 0, "name": "b.build", "layer": "graph.query", "start": 50, "end": 70},
            {"ev": "span", "id": 4, "parent": 0, "name": "b.action", "layer": "graph.query", "start": 70, "end": 80},
            {"ev": "job", "id": 0, "group": "span-1", "start": 1}, {"ev": "job_end", "id": 0, "end": 39},
            {"ev": "job", "id": 1, "group": "span-3", "start": 51}, {"ev": "job_end", "id": 1, "end": 69},
        ]
        m = ledger.analyze(records, turns=1)
        self.assertAlmostEqual(m["graph.materialize.wall_s"], 0.04)
        self.assertAlmostEqual(m["graph.query.wall_s"], 0.04)
        self.assertAlmostEqual(m["graph.query.build_ms"], 10.0)

    def test_benchmark_json_lists_the_same_metrics(self):
        spec = json.loads((pathlib.Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], ledger.metric_units())
        for m in spec["per_layer"]:
            want = "higher" if m["name"] in ledger.HIGHER_IS_BETTER else "lower"
            self.assertEqual(m["better"], want, m["name"])


if __name__ == "__main__":
    unittest.main()
