"""Tests of the benchmark's own logic (no JVM needed).

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result(kinds, traced=False):
    """A result.json as the JVM writes it: two rounds of ops."""
    ops, layers = [], {k: 1.0 for k in run.PER_LAYER}
    layers.update({"spark.scheduler.tasks": 4.0, "spark.scheduler.empty_tasks": 1.0})
    for rnd in range(4):
        for k, kind in enumerate(kinds):
            ops.append({"id": f"op-{rnd}-{k}", "kind": kind, "name": kind,
                        "latency_s": 1.0 + 0.1 * rnd, "input_rows": 100,
                        "ok": True, "error": "", "traced": traced and rnd % 2 == 0,
                        "start_ms": 0, "end_ms": 1, "layers": layers, "round": rnd})
    return {"ops": ops, "first_op_ms": 5000.0, "retained_heap_mb": 90.0,
            "session_build_s": 5.0, "cold_start": False, "loop_s": 10.0}


class MetricNames(unittest.TestCase):
    def test_names_and_units_follow_the_contract(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_lists_what_the_runner_emits(self):
        s = spec()
        self.assertEqual([m["name"] for m in s["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in s["per_layer"]], list(run.PER_LAYER))
        for m in s["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
        self.assertEqual([w["name"] for w in s["workloads"]], list(run.WORKLOADS))


class EveryWorkloadEmitsItsMetrics(unittest.TestCase):
    KINDS = {"mart_queries": ["op"], "ida_etl_load": ["op", "replay"]}

    def test_end_to_end(self):
        for w, kinds in self.KINDS.items():
            metrics, report = run.end_to_end(fake_result(kinds), 1.0, 1000.0, set())
            self.assertEqual(set(metrics), set(run.END_TO_END), w)
            self.assertTrue(all(v and v > 0 for v in metrics.values()), w)
            self.assertEqual(report["error_rate"], 0.0)
            self.assertEqual("replay" in kinds, "replay_p50_s" in report, w)

    def test_per_layer(self):
        for w, kinds in self.KINDS.items():
            metrics = run.per_layer(fake_result(kinds, traced=True))
            self.assertEqual(set(metrics),
                             set(run.PER_LAYER) | set(run.LAYER_REPORT_ONLY), w)
            self.assertAlmostEqual(metrics["spark.scheduler.empty_task_ratio"], 0.25)

    def test_failed_check_marks_its_ops_wrong(self):
        metrics, report = run.end_to_end(fake_result(["op"]), 1.0, 1000.0, {"op"})
        self.assertEqual(report["error_rate"], 1.0)
        self.assertIsNone(metrics["op_p50_s"])

    def test_rates_count_every_completed_op(self):
        metrics, _ = run.end_to_end(fake_result(["op", "replay"]), 1.0, 1000.0, set())
        self.assertAlmostEqual(metrics["ops_per_s"], 8 / 10.0)
        self.assertAlmostEqual(metrics["rows_per_s"], 800 / (2 * (4.0 + 0.6)))

    def test_a_failed_check_fails_its_ops(self):
        ops = fake_result(["q1", "q2"])["ops"]
        checks, names, failed = run.judge("mart_queries", ops, {"q1": "rows 1 != 2",
                                                                "q2": None})
        self.assertEqual((checks, names, failed), ({"q1"}, {"q1"}, 4))
        ops = fake_result(["lifecycle", "replay"])["ops"]
        _, names, failed = run.judge("ida_etl_load", ops, {"ida_lifecycle": "rows"})
        self.assertEqual((names, failed), ({"lifecycle", "replay"}, 8))
        self.assertEqual(run.judge("ida_etl_load", ops, {"ida_lifecycle": None})[2], 0)


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNotNone(stats.tail([1.0] * 11))

    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 20, 57, 200):
            xs = [float(i) for i in range(n)]
            value, pct, samples = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertEqual(samples, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 11) / (n - 1))

    def test_end_to_end_reports_tail_only_when_defined(self):
        _, report = run.end_to_end(fake_result(["op"] * 3), 1.0, 1000.0, set())
        self.assertEqual(report["op_samples"], 12)
        self.assertIsNotNone(report["op_tail_s"])
        _, report = run.end_to_end(fake_result(["op"]), 1.0, 1000.0, set())
        self.assertIsNone(report["op_tail_s"])


class GeneratorIsDeterministic(unittest.TestCase):
    def check(self, fn):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            pa = fn(a, 7)
            pb = fn(b, 7)
            fn(c, 8)
            self.assertEqual(pa, pb)
            self.assertTrue(run.identical_inputs(a, b))
            self.assertFalse(run.identical_inputs(a, c))

    def test_star_schema(self):
        self.check(lambda out, seed: gen.star_schema(out, seed, sf=0.01))

    def test_ida_exports(self):
        self.check(gen.ida_exports)

    def test_ida_properties_are_stated(self):
        with tempfile.TemporaryDirectory() as d:
            p = gen.ida_exports(d, 3)
            for k in ("months_per_sheet", "blank_cell_share", "unparseable_cell_share",
                      "duplicate_share"):
                self.assertIn(k, p)
            self.assertGreater(p["duplicate_share"], 0)
            names = sorted(n for n in os.listdir(d) if n.startswith("ida_raw_"))
            self.assertEqual(len(names), p["resources"])
            self.assertTrue(any(n.endswith(".ods") for n in names))


class OracleGate(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 1.5 AS v FROM range(5)) "
                    f"TO '{self.dir}/orders.parquet' (FORMAT PARQUET)")
        self.out = f"{self.dir}/out/q"
        os.makedirs(self.out)
        con.execute(f"COPY (SELECT k, v FROM '{self.dir}/orders.parquet') "
                    f"TO '{self.out}/part-0.parquet' (FORMAT PARQUET)")
        self.sql = "WITH o AS (SELECT * FROM orders) SELECT k, v FROM o ORDER BY k"

    def test_matching_output_passes(self):
        got = oracle.run_checks(self.dir, [{"name": "q", "dir": self.out,
                                            "sql": self.sql}])
        self.assertEqual(got, {"q": None})

    def test_planted_wrong_result_is_caught(self):
        oracle.plant_wrong(self.out)
        got = oracle.run_checks(self.dir, [{"name": "q", "dir": self.out,
                                            "sql": self.sql}])
        self.assertIn("differing rows", got["q"])
        self.assertEqual(run.judge("mart_queries", [{"name": "q", "ok": True}], got)[2], 1)


if __name__ == "__main__":
    unittest.main()
