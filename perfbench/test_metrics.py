"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics
import workloads


class TailTest(unittest.TestCase):

    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 40)
        self.assertEqual(value, 30)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_tail_ignores_input_order(self):
        xs = [5, 1, 4, 2, 3] * 4
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_no_tail_with_ten_samples_or_fewer(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11)))[1:], (100.0 / 11, 11))


class SelfTimeTest(unittest.TestCase):

    def span(self, id, parent, start, end):
        return {"id": id, "parent": parent, "start": start, "end": end}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 50, 60),
                 self.span(4, 2, 15, 25)]
        self.assertEqual(metrics.self_times(spans), {1: 60, 2: 20, 3: 10, 4: 10})

    def test_overlapping_children_count_once(self):
        # two stages of one job running at the same time
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60), self.span(3, 1, 40, 90)]
        self.assertEqual(metrics.self_times(spans)[1], 20)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 5, 15)]
        self.assertEqual(metrics.self_times(spans)[1], 5)


class DigestCheckTest(unittest.TestCase):

    def steps(self):
        return [{"kind": "query", "name": "q_a", "ok": True, "digest": "aa:1"},
                {"kind": "query", "name": "q_b", "ok": True, "digest": "bb:2"}]

    def test_matching_digests_pass(self):
        steps = self.steps()
        metrics.check_queries(steps, {"q_a": "aa:1", "q_b": "bb:2"})
        self.assertTrue(all(s["ok"] for s in steps))

    def test_digest_mismatch_counts_as_failure(self):
        steps = self.steps()
        metrics.check_queries(steps, {"q_a": "aa:1", "q_b": "bc:2"})
        self.assertEqual([s["ok"] for s in steps], [True, False])
        self.assertIn("pinned", steps[1]["error"])

    def test_missing_pin_counts_as_failure(self):
        steps = self.steps()
        metrics.check_queries(steps, {"q_a": "aa:1"})
        self.assertFalse(steps[1]["ok"])


class TableReplayTest(unittest.TestCase):

    def run_plan(self, plan, tamper=None):
        """Simulates the harness with the replay model itself."""
        model = metrics.TableModel()
        steps, gen = [], 1
        for kind, verb, arg in plan:
            if kind == "asof":
                steps.append({"ok": True, "verb": verb, "at": gen - 1,
                              "result": metrics.TableModel.at(model, gen - 1)})
                continue
            if kind == "compact":
                gen += 1
                model.snapshot(gen)
                steps.append({"ok": True, "verb": verb, "gen": gen})
                continue
            result = model.apply(verb, arg)
            if verb in workloads.WRITES:
                gen += 1
            model.snapshot(gen)
            steps.append({"ok": True, "verb": verb, "gen": gen, "result": result})
        if tamper:
            tamper(steps)
        model.versions.clear()
        final = [[k, v, s] for k, (v, s) in sorted(model.rows.items())]
        return steps, {"initial_gen": 1, "final_rows": final}

    def plan(self):
        p = workloads.plan("table_lifecycle", 7)
        # keep every asof read at least one write after the start
        return [s for s in p if s[0] != "asof"][:3] + p

    def test_replay_of_a_correct_run_passes(self):
        steps, table = self.run_plan(self.plan())
        self.assertIsNone(metrics.check_table(steps, self.plan(), table))
        self.assertTrue(all(s["ok"] for s in steps))

    def test_wrong_read_counts_as_failure(self):
        def tamper(steps):
            read = next(s for s in steps if s["verb"] == "scan")
            read["result"] = [[read["result"][0][0] + 1] + read["result"][0][1:]]
        steps, table = self.run_plan(self.plan(), tamper)
        metrics.check_table(steps, self.plan(), table)
        self.assertEqual(sum(1 for s in steps if not s["ok"]), 1)

    def test_wrong_final_table_is_reported(self):
        steps, table = self.run_plan(self.plan())
        table["final_rows"][0][1] += 1
        self.assertIsNotNone(metrics.check_table(steps, self.plan(), table))


class PlanTest(unittest.TestCase):

    def test_same_seed_same_plan(self):
        for w in workloads.workload_names():
            self.assertEqual(workloads.plan(w, 3), workloads.plan(w, 3))

    def test_seed_only_reorders_the_query_lists(self):
        for w, names in workloads.QUERY_WORKLOADS.items():
            self.assertEqual(sorted(n for _, n, _ in workloads.plan(w, 5)), sorted(names))

    def test_table_mix_is_fixed_per_run(self):
        verbs = [v for _, v, _ in workloads.plan("table_lifecycle", 11)]
        self.assertEqual(verbs.count("merge"), workloads.TABLE_MIX["merge"])
        self.assertEqual(verbs.count("point_read"), workloads.TABLE_MIX["point_read"])


class BenchmarkFileTest(unittest.TestCase):

    def minimal_result(self):
        keys = ["cpu_s", "codegen_classes", "codegen_source_count", "codegen_source_sum",
                "codegen_compile_ms", "jit_ms", "gc_ms", "fs_write_b", "fs_read_b",
                "fs_read_ops", "fs_write_ops", "fs_list_ops"]
        step = {"ok": True, "start": 0.0, "end": 1.0, "verb": "query", "kind": "query",
                "name": "q_x"}
        return {"setup": {"session_s": 1.0, "warmup_s": 1.0}, "steps": [step], "stages": [],
                "jobs": [], "cores": 1, "window": {"start": 0.0, "end": 1.0},
                "rss_peak_mb": 1.0, "before": dict.fromkeys(keys, 0.0),
                "after": dict.fromkeys(keys, 1.0)}

    def test_runs_report_exactly_the_listed_metrics(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        result = self.minimal_result()
        e2e = metrics.end_to_end(result, 1.0)
        self.assertEqual([(k, u) for k, (_, u) in e2e.items()],
                         [(m["name"], m["unit"]) for m in spec["end_to_end"]])
        layers = metrics.per_layer(result, e2e, [], [])
        self.assertEqual([(k, u) for k, (_, u) in layers.items()],
                         [(m["name"], m["unit"]) for m in spec["per_layer"]])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(workloads.workload_names()))


if __name__ == "__main__":
    unittest.main()
