"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import benchlib  # noqa: E402
from workloads import (WORKLOADS, TAIL_GATES, TAIL_POOL, FIXED_COST_PROFILED,  # noqa: E402
                       HEAVY_GATES, HEAVY_POOL)

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def span(id_, parent, start, end, kind="x"):
    return {"id": id_, "parent": parent, "kind": kind, "name": str(id_), "start": start, "end": end}


def synthetic_raw(kind):
    """A raw-observation file as the harness writes it, for one plain and
    one traced unit."""
    unit = {"index": 1, "kind": kind, "start": 0.0, "ms": 100.0, "cpu_ms": 250.0,
            "program_cpu_ms": 200.0, "gc_cpu_ms": 20.0, "traced": False, "root": 0}
    traced = dict(unit, index=2, traced=True, root=1, ms=110.0)
    spans = [span(1, 0, 0.0, 110.0, "workload"), span(2, 1, 0.0, 110.0, kind)]
    ops = []
    if kind == "pass":
        spans += [span(3, 2, 0.0, 50.0, "gate"), span(4, 3, 0.0, 20.0, "gate.build"),
                  span(5, 3, 20.0, 50.0, "gate.action")]
        ops = [{"unit": u, "kind": "gate", "name": "q1", "ms": 50.0, "build_ms": 20.0,
                "action_ms": 30.0, "rows": 1, "error": None, "pins_left_rdds": 0,
                "pins_left_bytes": 0} for u in (1, 2)]
    else:
        extra = {"task_ms": 60.0, "calc_ms": 40.0, "files_written": 3,
                 "events": [{"t": 1.0, "table": "wh.a", "op": "recreate", "status": "begin", "rows": 0},
                            {"t": 30.0, "table": "wh.a", "op": "recreate", "status": "finished_recreate",
                             "rows": 10}],
                 "calc_phases": [{"phase": "calculation", "t": 60.0}, {"phase": "copying", "t": 80.0},
                                 {"phase": "finished_chora_copy", "t": 90.0}]}
        unit.update(extra)
        traced.update(extra)
        spans += [span(3, 2, 0.0, 60.0, "task"), span(4, 3, 1.0, 30.0, "table")]
        ops = [{"unit": u, "kind": "sync", "name": "wh.a", "op": "recreate", "ms": 29.0,
                "rows_copied": 10, "error": None} for u in (1, 2)]
    job = {"id": 7, "start": 5.0, "end": 15.0, "span": "4", "call_site": "parquet at X.scala:1",
           "in_sql": False, "succeeded": True, "stages": 1, "tasks": 2, "run_ms": 8,
           "cpu_ms": 6.0, "input_bytes": 100, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0, "output_bytes": 50}
    probe = {"jobs": [job],
             "plan": {"actions": 1, "failed_actions": 0, "analysis_ms": 1.0,
                      "optimization_ms": 2.0, "planning_ms": 3.0},
             "pins": {"created": 0, "peak_bytes": 0},
             "stream": {"triggers": 0, "trigger_ms": 0.0, "state_rows": 0},
             "jvm": {"gc_ms": 1, "codecache_mb": 50.0}}
    return {"workload": "gates" if kind == "pass" else "etl",
        "setup": {"build_ms": 5000.0, "warmup_ms": 100.0, "program_cpu_ms": 2500.0},
        "units": [unit, traced], "ops": ops, "spans": spans, "probes": {"2": probe},
        "prime_ms": 1000.0}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(benchlib.reportable(100, 90))
        self.assertFalse(benchlib.reportable(99, 90))
        self.assertTrue(benchlib.reportable(20, 50))
        self.assertFalse(benchlib.reportable(19, 50))

    def test_highest_reportable(self):
        self.assertEqual(benchlib.highest_reportable(1000), 99)
        self.assertEqual(benchlib.highest_reportable(104), 90)
        self.assertEqual(benchlib.highest_reportable(52), 80)
        self.assertEqual(benchlib.highest_reportable(40), 75)
        self.assertIsNone(benchlib.highest_reportable(38))

    def test_quantile_interpolates(self):
        self.assertEqual(benchlib.quantile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(benchlib.quantile([10, 20], 0.9), 19.0)
        self.assertEqual(benchlib.quantile([7], 0.9), 7)


class SpanSelfTime(unittest.TestCase):
    def test_parent_minus_children_union(self):
        spans = [span(1, None, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 2, 10, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - 50)   # children cover 10..60
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 10)

    def test_child_outside_parent_is_clipped(self):
        st = benchlib.self_times([span(1, None, 0, 10), span(2, 1, 5, 50)])
        self.assertEqual(st[1], 5)

    def test_union(self):
        self.assertEqual(benchlib.union_ms([(0, 10), (5, 15), (20, 25), (3, 3)]), 20)


class NameGrammar(unittest.TestCase):
    def test_grammar(self):
        for ok in ("setup_s", "op_p50_ms", "self.gate.build_ms", "9lives", "a-b"):
            self.assertRegex(ok, benchlib.NAME_RE)
        for bad in ("", "_x", ".x", "a b", "x" * 65, "é"):
            self.assertNotRegex(bad, benchlib.NAME_RE)
        for ok in ("ms", "s", "1/s", "rows/s", "%", "MB", "count"):
            self.assertRegex(ok, benchlib.UNIT_RE)
        self.assertNotRegex("rows per s", benchlib.UNIT_RE)

    def test_every_declared_name_is_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, benchlib.NAME_RE)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], benchlib.UNIT_RE)
        for w in SPEC["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


class DeclaredMetricsAreReported(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(WORKLOADS))

    def test_end_to_end_metrics_and_units(self):
        declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for kind in ("pass", "cycle"):
            out = benchlib.end_to_end(synthetic_raw(kind))
            self.assertEqual({k: u for k, (v, u) in out.items()}, declared)
            self.assertTrue(all(v > 0 for v, _ in out.values()))

    def test_per_layer_metrics_and_units(self):
        declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual(declared, benchlib.LAYER_UNITS)
        for kind in ("pass", "cycle"):
            out = benchlib.layers(synthetic_raw(kind), 250.0, cores=4, update_tables=(),
                                  bytes_per_row={"wh.a": 2.0})
            self.assertEqual(set(out), set(declared))

    def test_setup_is_the_program_set_up(self):
        out = benchlib.end_to_end(synthetic_raw("pass"))
        self.assertAlmostEqual(out["setup_s"][0], 2.5)
        m = benchlib.layers(synthetic_raw("pass"), 7000.0, cores=4)
        self.assertEqual((m["session.build_ms"], m["inputs.generate_ms"]), (5000.0, 7000.0))


class LayerAssembly(unittest.TestCase):
    def test_gate_pass(self):
        m = benchlib.layers(synthetic_raw("pass"), 0.0, cores=4)
        self.assertEqual(m["gates.eager_jobs"], 1)      # the job ran inside gate.build
        self.assertEqual(m["scan.listing_jobs"], 1)
        self.assertEqual(m["jobs.unattributed"], 0)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)
        self.assertAlmostEqual(m["self.gate.build_ms"], 10.0)   # 20 ms minus the 10 ms job
        self.assertAlmostEqual(m["driver.idle_ms"], 100.0)

    def test_cycle(self):
        m = benchlib.layers(synthetic_raw("cycle"), 0.0, cores=4, bytes_per_row={"wh.a": 2.0})
        self.assertEqual(m["task.max_parallel_tables"], 1)
        self.assertAlmostEqual(m["sync.recreate_ms"], 29.0)
        self.assertAlmostEqual(m["calc.calculation_ms"], 20.0)
        self.assertAlmostEqual(m["calc.copyback_ms"], 10.0)
        self.assertAlmostEqual(m["io.write_amp"], 50 / 20.0)

    def test_unattributed_job(self):
        raw = synthetic_raw("pass")
        raw["probes"]["2"]["jobs"][0]["span"] = ""
        self.assertEqual(benchlib.layers(raw, 0.0, cores=4)["jobs.unattributed"], 1)

    def test_task_waves_and_parallelism(self):
        ev = [("a", "begin", 0), ("b", "begin", 1), ("a", "copying", 2), ("a", "finished_x", 5),
              ("b", "finished_x", 6), ("u", "begin", 7), ("u", "finished_update", 9)]
        unit = {"events": [{"t": t, "table": n, "op": "update" if n == "u" else "recreate",
                            "status": s, "rows": 0} for n, s, t in ev]}
        m = benchlib.task_layers(unit, {"u"})
        self.assertEqual(m["task.wave1_ms"], 6)
        self.assertEqual(m["task.wave2_ms"], 2)
        self.assertEqual(m["task.max_parallel_tables"], 2)
        self.assertEqual(m["task.heartbeat_ticks"], 1)
        self.assertEqual(m["sync.update_ms"], 2)


class ResultDigest(unittest.TestCase):
    def test_order_insensitive_and_column_order_free(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2, 2], "y": ["p", "q", "q"]})
        b = pd.DataFrame({"y": ["q", "p", "q"], "x": [2, 1, 2]})
        self.assertEqual(benchlib.frame_digest(a), benchlib.frame_digest(b))
        c = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        self.assertNotEqual(benchlib.frame_digest(a), benchlib.frame_digest(c))


class GateLists(unittest.TestCase):
    def test_tail_rule(self):
        self.assertEqual(len(TAIL_POOL), 52)
        self.assertTrue(set(FIXED_COST_PROFILED) <= set(TAIL_GATES))
        self.assertEqual(TAIL_GATES, [g for g in TAIL_POOL if g in set(TAIL_GATES)])

    def test_heavy_gates_come_from_the_roadmap_ten(self):
        self.assertEqual(len(HEAVY_POOL), 10)
        self.assertTrue(HEAVY_GATES and set(HEAVY_GATES) <= set(HEAVY_POOL))

    def test_every_gate_has_an_expectation(self):
        with open(os.path.join(BENCH, "expected_gates.json")) as f:
            expected = json.load(f)["gates"]
        for w in WORKLOADS.values():
            for g in w.get("gates", []):
                self.assertIn(g, expected)


if __name__ == "__main__":
    unittest.main()
